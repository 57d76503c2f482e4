"""Deduplication operators over `documents` (P6): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

All hashing is *integer arithmetic over data-derived word ids* (see
operators/text.py) so the DuckDB oracle reproduces signatures bit-exactly —
no engine-specific hash functions.

Scale design:
* exact dedup: one hash-groupBy — the canonical 100 TB dedup shuffle.
* shingles: tokens -> 3-gram shingle ids; vocabulary dict is broadcast.
* n-gram Jaccard: shingle-inverted-index self-join (equi-join on shingle id,
  never a doc x doc cross join), then per-pair aggregation.
* MinHash: K=8 linear hashes folded with MIN aggregates (map-side combine);
  LSH bands of 2 rows -> candidate pairs via band equi-join.  The pair count
  is driven by collisions, not |docs|^2.
* SimHash: 32-bit signature from weighted word-bit sums; candidate pairs
  restricted to a 16-bit band prefix before the Hamming check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import domain
from . import text as T
from . import graph as G

HASH_P = 1_000_000_007
# K=8 minhash linear-hash coefficients (odd a, arbitrary b)
MINHASH_AB = [(2971, 11), (4111, 131), (5233, 257), (6373, 389),
              (7529, 521), (8677, 653), (9811, 787), (10937, 919)]
N_BANDS = 4  # bands of 2 signature rows each
# 32-bit simhash with a 16-bit band prefix: 2^16 candidate buckets keeps the
# per-bucket pair fan-out sub-quadratic at corpus scale (an 8-bit band over
# a 16-bit signature was ~127k candidate pairs at just 5k docs).
SIMHASH_BITS = 32
SIMHASH_BAND_SHIFT = 65536  # sig // 2^16 = top-16-bit band prefix
SIMHASH_MULT = 2_654_435_761  # Knuth multiplicative constant
JACCARD_THRESHOLD = 0.2
HAMMING_MAX = 3
# Shingles appearing in more than this many documents are boilerplate
# (headers, license blurbs): a shingle shared by k docs emits C(k,2)
# candidate rows in the inverted-index join, so a single hot shingle with
# k in the millions is a quadratic blowup on one key.  Such shingles carry
# no near-dup signal; Jaccard is computed over the capped shingle sets on
# both the Spark and oracle sides.
MAX_SHINGLE_DF = 100


# --- Exact dedup (hash-groupBy) ----------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5(text): survivor = min doc_id.
    One shuffle on the text hash; at 100 TB hash first, never group raw text."""
    d = T.docs_df(spark, sf_dir)
    return (d.groupBy(F.md5(F.col("text")).alias("text_hash"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("doc_id").alias("keep_doc_id"))
             .select("text_hash", "n_docs", "keep_doc_id",
                     (F.col("n_docs") - 1).alias("n_removed"))
             .orderBy("keep_doc_id"))


def sql_dedup_exact() -> str:
    return """
SELECT md5(text) AS text_hash, count(*) AS n_docs,
       min(doc_id) AS keep_doc_id, count(*) - 1 AS n_removed
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id"""


# --- Shingles (3-gram word windows -> integer ids) ---------------------------

def shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized + Spark-cached shingle table (several dedup queries
    share it; the vocabulary distinct-collect runs once per session/sf)."""
    return domain.session_memo(spark, "shingles", sf_dir,
                               lambda: shingles_df(spark, sf_dir).cache())


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle_id): sid = w1*(V+1)^2 + w2*(V+1) + w3 over
    data-derived word ids (exact in int64 for vocab < ~2M)."""
    d = T.docs_df(spark, sf_dir)
    v = T.vocab_df(spark, sf_dir)
    vsize = v.count() + 1
    return shingles_of(d, v, vsize)


def shingles_of(d: DataFrame, v: DataFrame, vsize: int) -> DataFrame:
    """Shingle table for an arbitrary (doc_id, text) frame against a given
    vocabulary dim — the reusable core of shingles_df, also applied to
    streaming ingest microbatches (words outside the vocab drop, the
    documented behavior for out-of-corpus tokens)."""
    words = (d.select("doc_id", F.posexplode(F.split(F.col("text"), " ")))
               .withColumnRenamed("col", "word")
               .filter(F.col("word") != ""))
    w = words.join(F.broadcast(v), "word").select("doc_id", "pos", "wid")
    w1 = w.alias("w1")
    w2 = w.select(F.col("doc_id").alias("doc_id2"),
                  (F.col("pos") - 1).alias("pos2"), F.col("wid").alias("wid2"))
    w3 = w.select(F.col("doc_id").alias("doc_id3"),
                  (F.col("pos") - 2).alias("pos3"), F.col("wid").alias("wid3"))
    tri = (w1.join(w2, (F.col("w1.doc_id") == F.col("doc_id2"))
                   & (F.col("w1.pos") == F.col("pos2")))
             .join(w3, (F.col("w1.doc_id") == F.col("doc_id3"))
                   & (F.col("w1.pos") == F.col("pos3"))))
    # wid comes from row_number() (int32); widen before the polynomial so the
    # shingle id and downstream minhash arithmetic stay in int64.
    sid = (F.col("wid").cast("long") * vsize * vsize
           + F.col("wid2").cast("long") * vsize + F.col("wid3").cast("long"))
    return (tri.select(F.col("w1.doc_id").alias("doc_id"), sid.alias("sid"))
               .distinct())


SHINGLES_CTE_TMPL = """
vsize AS (SELECT count(*) + 1 AS v FROM vocab),
shingles AS (
  SELECT DISTINCT t.doc_id,
         wa.wid * v.v * v.v + wb.wid * v.v + wc.wid AS sid
  FROM (
    SELECT doc_id, ws[i] AS a, ws[i+1] AS b, ws[i+2] AS c
    FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
          FROM (SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents) s)
  ) t
  JOIN vocab wa ON t.a = wa.word
  JOIN vocab wb ON t.b = wb.word
  JOIN vocab wc ON t.c = wc.word
  CROSS JOIN vsize v
)"""


def _shingles_with() -> str:
    return ("WITH " + T.TOKENS_CTE.strip() + ",\n" + T.VOCAB_CTE.strip()
            + ",\n" + SHINGLES_CTE_TMPL.strip())


# --- n-gram Jaccard ----------------------------------------------------------

def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with shingle-set Jaccard >= threshold, via the
    inverted-index equi-join (no doc x doc cross join).

    Boilerplate shingles with document frequency > MAX_SHINGLE_DF are dropped
    *before* the self-join (left-anti against the tiny broadcast hot set), so
    no single inverted-index key can emit a quadratic pair blowup; Jaccard is
    over the capped sets on both sides of the oracle compare.
    """
    sh = shingles_cached(spark, sf_dir)
    hot = (sh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
             .filter(F.col("df") > MAX_SHINGLE_DF)
             .select("sid"))
    sh = sh.join(F.broadcast(hot), "sid", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sid").alias("sid_b"))
    common = (a.join(b, (F.col("sid") == F.col("sid_b"))
                     & (F.col("doc_id") < F.col("doc_id_b")))
                .groupBy("doc_id", "doc_id_b")
                .agg(F.count(F.lit(1)).alias("n_common")))
    j = (common
         .join(sizes.withColumnRenamed("n", "n_a"), "doc_id")
         .join(sizes.select(F.col("doc_id").alias("doc_id_b"),
                            F.col("n").alias("n_b")), "doc_id_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (j.select(F.col("doc_id").alias("doc_a"),
                     F.col("doc_id_b").alias("doc_b"),
                     F.round(jac, 6).alias("jaccard"))
             .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
             .orderBy("doc_a", "doc_b"))


def sql_dedup_jaccard() -> str:
    return f"""{_shingles_with()},
hot AS (
  SELECT sid FROM shingles GROUP BY sid HAVING count(*) > {MAX_SHINGLE_DF}
),
kept AS (
  SELECT s.doc_id, s.sid FROM shingles s ANTI JOIN hot h ON s.sid = h.sid
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM kept a JOIN kept b
    ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON common.doc_a = sa.doc_id
JOIN sizes sb ON common.doc_b = sb.doc_id
WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b"""


# --- MinHash signatures + LSH candidate pairs --------------------------------

def minhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=8 minhash signature per doc: min((a*sid + b) % P) per hash fn,
    folded as MIN aggregates (map-side combinable — one shuffle)."""
    return minhash_of(shingles_cached(spark, sf_dir))


def minhash_of(sh: DataFrame) -> DataFrame:
    """Signatures for an arbitrary (doc_id, sid) shingle frame."""
    aggs = [F.min((F.col("sid") * a + b) % HASH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_AB)]
    return sh.groupBy("doc_id").agg(*aggs)


def banded_sigs(sig: DataFrame, idcol: str) -> DataFrame:
    """(idcol, band, band_val) — N_BANDS rows per signature row."""
    parts = []
    for bi in range(N_BANDS):
        h1, h2 = f"h{2*bi}", f"h{2*bi+1}"
        parts.append(sig.select(
            F.col("doc_id").alias(idcol), F.lit(bi).alias("band"),
            (F.col(h1) * HASH_P + F.col(h2)).alias("band_val")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_df(spark, sf_dir).orderBy("doc_id")


def sql_minhash_signatures() -> str:
    aggs = ", ".join(
        f"min((sid * {a} + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_AB))
    return f"""{_shingles_with()}
SELECT doc_id, {aggs} FROM shingles GROUP BY doc_id ORDER BY doc_id"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: N_BANDS bands of 2 signature rows; candidates
    share any band; output estimated similarity = matching-signature
    fraction.  Join is per-band equi-join on the band value."""
    sig = minhash_df(spark, sf_dir).cache()
    bands = []
    for bi in range(N_BANDS):
        h1, h2 = f"h{2*bi}", f"h{2*bi+1}"
        bands.append(sig.select(
            "doc_id", F.lit(bi).alias("band"),
            (F.col(h1) * HASH_P + F.col(h2)).alias("band_val")))
    banded = bands[0]
    for bdf in bands[1:]:
        banded = banded.unionAll(bdf)
    a = banded.alias("a")
    b = banded.select(F.col("doc_id").alias("doc_id_b"),
                      F.col("band").alias("band_b"),
                      F.col("band_val").alias("band_val_b"))
    cand = (a.join(b, (F.col("band") == F.col("band_b"))
                   & (F.col("band_val") == F.col("band_val_b"))
                   & (F.col("doc_id") < F.col("doc_id_b")))
             .select(F.col("doc_id").alias("doc_a"),
                     F.col("doc_id_b").alias("doc_b"))
             .distinct())
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)])
    est = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
              for i in range(8)) / F.lit(8.0)
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
                .select("doc_a", "doc_b", F.round(est, 6).alias("est_similarity"))
                .orderBy("doc_a", "doc_b"))


def sql_dedup_minhash_lsh() -> str:
    aggs = ", ".join(
        f"min((sid * {a} + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_AB))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, h{2*bi} * {HASH_P} + h{2*bi+1} AS band_val FROM sig"
        for bi in range(N_BANDS))
    est = ("(" + " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(8))
        + ") / 8.0")
    return f"""{_shingles_with()},
sig AS (SELECT doc_id, {aggs} FROM shingles GROUP BY doc_id),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, round({est}, 6) AS est_similarity
FROM cand c
JOIN sig sa ON c.doc_a = sa.doc_id
JOIN sig sb ON c.doc_b = sb.doc_id
ORDER BY doc_a, doc_b"""


# --- SimHash -----------------------------------------------------------------

def simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit simhash: per word, h = (wid * Knuth) % 2^32; bit j of the
    signature = sign of the count-weighted sum of (2*bit_j(h) - 1)."""
    t = T.tokens_df(spark, sf_dir)
    v = T.vocab_df(spark, sf_dir)
    wc = (t.join(F.broadcast(v), "word")
            .groupBy("doc_id", "wid").agg(F.count(F.lit(1)).alias("cnt")))
    h = (F.col("wid") * SIMHASH_MULT) % 4294967296
    bit_sums = [
        F.sum(F.col("cnt") * (((h / (2 ** j)).cast("long") % 2) * 2 - 1))
         .alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = wc.groupBy("doc_id").agg(*bit_sums)
    sig = sum(F.when(F.col(f"s{j}") > 0, 2 ** j).otherwise(0)
              for j in range(SIMHASH_BITS))
    return sums.select("doc_id", sig.cast("long").alias("simhash"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_df(spark, sf_dir).orderBy("doc_id")


def sql_simhash() -> str:
    bit_sums = ", ".join(
        f"sum(cnt * ((((wid * {SIMHASH_MULT}) % 4294967296) // {2 ** j}) % 2 * 2 - 1)) AS s{j}"
        for j in range(SIMHASH_BITS))
    sig = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END"
        for j in range(SIMHASH_BITS))
    return f"""
WITH {T.TOKENS_CTE.strip()},
{T.VOCAB_CTE.strip()},
wc AS (
  SELECT t.doc_id, v.wid, count(*) AS cnt
  FROM tokens t JOIN vocab v ON t.word = v.word
  GROUP BY t.doc_id, v.wid
),
sums AS (SELECT doc_id, {bit_sums} FROM wc GROUP BY doc_id)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
FROM sums ORDER BY doc_id"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: same 16-bit band prefix AND Hamming distance <= 3."""
    s = simhash_df(spark, sf_dir).cache()
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
                 (F.col("simhash") / SIMHASH_BAND_SHIFT).cast("long")
                 .alias("band_a"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
                 (F.col("simhash") / SIMHASH_BAND_SHIFT).cast("long")
                 .alias("band_b"))
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (a.join(b, (F.col("band_a") == F.col("band_b"))
                   & (F.col("doc_a") < F.col("doc_b")))
             .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
             .filter(F.col("hamming") <= HAMMING_MAX)
             .orderBy("doc_a", "doc_b"))


def sql_dedup_simhash_pairs() -> str:
    inner = sql_simhash().strip()
    return f"""
WITH sims AS ({inner.replace('ORDER BY doc_id', '')})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b
  ON (a.simhash // {SIMHASH_BAND_SHIFT}) = (b.simhash // {SIMHASH_BAND_SHIFT})
  AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b"""


# --- Benchmark decontamination -----------------------------------------------

def q_text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing any shingle
    with the 'benchmark' subset (docs with lang = 'en' and doc_id % 50 == 0
    stand in for an eval set).  The overlap join is the shingle inverted
    index again — benchmark shingles are a tiny broadcast side, so the scan
    over corpus shingles never shuffles; this is the standard pre-training
    decontamination shape (n-gram overlap against held-out benchmarks)."""
    sh = shingles_cached(spark, sf_dir)
    bench_ids = (T.docs_df(spark, sf_dir)
                 .filter((F.col("lang") == "en") & (F.col("doc_id") % 50 == 0))
                 .select("doc_id"))
    bench_sh = (sh.join(F.broadcast(bench_ids), "doc_id")
                  .select("sid").distinct())
    corpus = sh.join(F.broadcast(bench_ids), "doc_id", "left_anti")
    hits = (corpus.join(F.broadcast(bench_sh), "sid")
                  .groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_shared_shingles")))
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    frac = F.col("n_shared_shingles") / F.col("n_shingles")
    return (sizes.join(hits, "doc_id", "left")
                 .na.fill(0, ["n_shared_shingles"])
                 .select("doc_id", "n_shingles",
                         F.col("n_shared_shingles").cast("bigint")
                          .alias("n_shared_shingles"),
                         F.round(frac, 6).alias("shared_frac"),
                         (frac > 0.5).alias("contaminated"))
                 .orderBy("doc_id"))


def sql_text_decontamination() -> str:
    return f"""{_shingles_with()},
bench_ids AS (
  SELECT doc_id FROM documents WHERE lang = 'en' AND doc_id % 50 = 0
),
bench_sh AS (
  SELECT DISTINCT s.sid FROM shingles s JOIN bench_ids b ON s.doc_id = b.doc_id
),
corpus AS (
  SELECT s.doc_id, s.sid FROM shingles s
  ANTI JOIN bench_ids b ON s.doc_id = b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, count(*) AS n_shared_shingles
  FROM corpus c JOIN bench_sh bs ON c.sid = bs.sid
  GROUP BY c.doc_id
)
SELECT z.doc_id, z.n_shingles,
       CAST(coalesce(h.n_shared_shingles, 0) AS BIGINT) AS n_shared_shingles,
       round(coalesce(h.n_shared_shingles, 0) / CAST(z.n_shingles AS DOUBLE), 6)
         AS shared_frac,
       (coalesce(h.n_shared_shingles, 0) / CAST(z.n_shingles AS DOUBLE)) > 0.5
         AS contaminated
FROM sizes z LEFT JOIN hits h ON z.doc_id = h.doc_id
ORDER BY z.doc_id"""


# --- Connected components over near-dup pairs (cluster survivors) ------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    candidate graph (``graph.clusters``), with the canonical survivor =
    min doc_id per component."""
    return G.clusters(T.docs_df(spark, sf_dir).select("doc_id"),
                      q_dedup_minhash_lsh(spark, sf_dir)
                      .select("doc_a", "doc_b"))


def q_dedup_filtered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated corpus: documents surviving BOTH exact dedup (min doc_id
    per text hash) and near-dup clustering (cluster representative) — the
    end product a training-data pipeline feeds downstream."""
    d = T.docs_df(spark, sf_dir)
    exact_keep = (d.groupBy(F.md5(F.col("text")).alias("h"))
                    .agg(F.min("doc_id").alias("doc_id"))
                    .select("doc_id"))
    near_keep = (q_dedup_clusters(spark, sf_dir)
                 .filter(F.col("is_kept")).select("doc_id"))
    return (d.join(exact_keep, "doc_id", "left_semi")
             .join(near_keep, "doc_id", "left_semi")
             .select("doc_id", "lang", "n_chars")
             .orderBy("doc_id"))


def sql_dedup_filtered_docs() -> str:
    clusters = sql_dedup_clusters().strip()
    return f"""
WITH clusters AS ({clusters}),
exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
JOIN exact_keep e ON d.doc_id = e.doc_id
JOIN clusters c ON d.doc_id = c.doc_id AND c.is_kept
ORDER BY d.doc_id"""


def sql_dedup_clusters() -> str:
    lsh = sql_dedup_minhash_lsh().strip()
    return f"""
WITH lsh_pairs AS ({lsh}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
),
walk AS (
  WITH RECURSIVE reach(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.label
    FROM reach r JOIN edges e ON r.doc_id = e.src
  )
  SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id
),
sizes AS (SELECT label, count(*) AS cluster_size FROM walk GROUP BY label)
SELECT w.doc_id, w.label AS cluster_rep, s.cluster_size,
       (w.doc_id = w.label) AS is_kept
FROM walk w JOIN sizes s ON w.label = s.label
ORDER BY w.doc_id"""


# --- Corpus-curation funnel (pipeline composition) ---------------------------

def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts through the full curation pipeline — the monitoring
    query every training-data run reports: raw -> quality filter
    (quality_u >= 500000, the integer micro-unit threshold — the
    round-9 cross-SF audit moved quality to exact integer units) ->
    exact dedup (min doc_id per md5 among quality
    survivors) -> near-dup clustering (global cluster representative) ->
    decontamination (drop docs with >50% shingle overlap vs the benchmark
    subset).  Composed ENTIRELY from the individually-oracle-verified
    operators, on both the Spark and the DuckDB side — a green row here
    certifies the composition semantics, not just the parts.

    Scale design: each stage is a semijoin/anti-join against the previous
    survivor set; the five stage counts are thin scalar aggregates unioned
    at the end, so nothing is collected driver-side.

    At sf0.01 stages 2 and 4 drop rows (500 -> 200 -> 144); stage 3 drops
    none because the synthetic corpus has zero exact-duplicate texts (a
    data property — the md5 grouping is the same logic as the green
    ``dedup_exact``), and the 1 contaminated doc is already filtered
    upstream, so the stage-5 anti-join runs against a non-empty side.
    """
    # r12 (guide §3.3): each stage's id set feeds BOTH its own stage
    # count and every later stage's semi/anti join, so without
    # materialization the funnel recomputes a triangular prefix chain
    # (quality 4x, exact-dedup 3x, near-dedup 2x — 70 parquet scans in
    # the committed snapshot).  Checkpoint the thin single-column
    # survivor sets once each; the last set is consumed once and needs
    # none.
    d = T.docs_df(spark, sf_dir)
    quality_ids = (T.q_quality_score(spark, sf_dir)
                   .where(F.col("quality_u") >= 500000).select("doc_id")
                   .localCheckpoint(eager=True))
    exact_ids = (d.join(quality_ids, "doc_id", "left_semi")
                  .groupBy(F.md5(F.col("text")))
                  .agg(F.min("doc_id").alias("doc_id"))
                  .select("doc_id").localCheckpoint(eager=True))
    near_keep = (q_dedup_clusters(spark, sf_dir)
                 .where(F.col("is_kept")).select("doc_id"))
    near_ids = exact_ids.join(near_keep, "doc_id", "left_semi") \
        .localCheckpoint(eager=True)
    contaminated = (q_text_decontamination(spark, sf_dir)
                    .where(F.col("contaminated")).select("doc_id"))
    clean_ids = near_ids.join(contaminated, "doc_id", "left_anti")

    stages = [("raw", d.select("doc_id")), ("quality", quality_ids),
              ("exact_dedup", exact_ids), ("near_dedup", near_ids),
              ("decontaminated", clean_ids)]
    parts = [
        s.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
         .select(F.lit(i + 1).cast("int").alias("stage_idx"),
                 F.lit(name).alias("stage"), "n_docs")
        for i, (name, s) in enumerate(stages)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("stage_idx")


def sql_curation_funnel() -> str:
    from . import text as TXT  # quality oracle lives beside the Spark form
    quality = TXT.sql_quality_score().strip()
    clusters = sql_dedup_clusters().strip()
    decon = sql_text_decontamination().strip()
    return f"""
WITH q AS (
  SELECT doc_id FROM ({quality}) WHERE quality_u >= 500000
),
e AS (
  SELECT min(d.doc_id) AS doc_id
  FROM documents d JOIN q USING (doc_id)
  GROUP BY md5(d.text)
),
n AS (
  SELECT e.doc_id
  FROM e JOIN (SELECT doc_id FROM ({clusters}) WHERE is_kept) c USING (doc_id)
),
f AS (
  SELECT n.doc_id FROM n
  ANTI JOIN (SELECT doc_id FROM ({decon}) WHERE contaminated) x USING (doc_id)
)
SELECT CAST(1 AS INT) AS stage_idx, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT 2, 'quality', CAST(count(*) AS BIGINT) FROM q
UNION ALL SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT) FROM e
UNION ALL SELECT 4, 'near_dedup', CAST(count(*) AS BIGINT) FROM n
UNION ALL SELECT 5, 'decontaminated', CAST(count(*) AS BIGINT) FROM f
ORDER BY stage_idx"""


# --- Exact-substring decontamination (token-boundary window join) ------------
# The GPT-3/Pile-style exact-substring check: an eval-set fragment counts
# as leaked only if it appears VERBATIM in a training document.  Donors
# (docs with doc_id % DECON_DONOR_MOD == DECON_DONOR_REM) stand in for the
# eval set; each contributes its first DECON_FRAG_TOKENS tokens as one
# fragment.

DECON_DONOR_MOD = 97
DECON_DONOR_REM = 3
DECON_FRAG_TOKENS = 8
# Seeded "leaky" documents (donor's fragment quoted inside fresh text) make
# the sf0.01 parity row set non-empty by construction — the same
# non-vacuousness device as similarity.corpus_with_twins_df.  A random
# 8-token run recurring naturally is ~vocab^-8; without seeding the check
# would pass on two empty results and prove nothing.  Synthetic ids live
# in the NEGATIVE namespace (-donor_id), disjoint from any real corpus id
# by construction — an additive offset (the earlier 2_000_000) silently
# collides once real doc_ids reach it (ADVICE r4).


def _decon_corpus(d: DataFrame):
    """(corpus, frags): corpus = non-donors + seeded leaky quotes of every
    other donor; frags = distinct first-DECON_FRAG_TOKENS-token fragments
    of the donors (the stand-in eval set)."""
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    L = DECON_FRAG_TOKENS
    donors = (d.filter(F.col("doc_id") % DECON_DONOR_MOD == DECON_DONOR_REM)
               .select("doc_id", ws.alias("ws"))
               .filter(F.size("ws") >= L)
               .select("doc_id",
                       F.concat_ws(" ", F.slice("ws", 1, L)).alias("frag")))
    frags = donors.select("frag").distinct()
    leaky = (donors.filter(
                F.expr(f"(doc_id div {DECON_DONOR_MOD}) % 2 = 0"))
                   .select((-F.col("doc_id")).alias("doc_id"),
                           F.concat(F.lit("quoted eval text "), F.col("frag"),
                                    F.lit(" end quote")).alias("text")))
    corpus = (d.filter(F.col("doc_id") % DECON_DONOR_MOD != DECON_DONOR_REM)
               .select("doc_id", "text")
               .unionByName(leaky))
    return corpus, frags


def q_decontam_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus documents containing any eval fragment verbatim (at token
    granularity), with the count of distinct fragments each leaks.

    Scale shape: NOT a contains() scan per (doc, fragment) pair — that is
    a nested loop over |docs| x |frags|.  The corpus side explodes each
    document into its DECON_FRAG_TOKENS-token sliding windows and
    equi-joins the window string against the broadcast fragment dim, so
    the work is O(total_tokens) regardless of eval-set size (an
    Aho-Corasick analog built from relational pieces).  The DuckDB oracle
    declares the same semantics via boundary-padded position() over the
    TOKENIZED corpus text — both sides are whitespace-normalized
    (empty tokens dropped, single-space-joined) before the compare, so a
    window equals a fragment iff ' '||frag||' ' occurs in
    ' '||norm(text)||' ' for ANY input spacing, not just single-spaced
    corpora (ADVICE r4: the earlier raw-text oracle was data-dependent).
    """
    d = T.docs_df(spark, sf_dir)
    corpus, frags = _decon_corpus(d)
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    L = DECON_FRAG_TOKENS
    idx = F.when(F.size("ws") >= L,
                 F.sequence(F.lit(1), F.size("ws") - (L - 1))) \
           .otherwise(F.array().cast("array<int>"))
    windows = (corpus.select("doc_id", ws.alias("ws"))
                     .select("doc_id", F.explode(
                         F.transform(idx, lambda i: F.concat_ws(
                             " ", F.slice("ws", i, L)))).alias("w")))
    hits = (windows.join(F.broadcast(frags),
                         windows["w"] == frags["frag"])
                   .groupBy("doc_id")
                   .agg(F.countDistinct("frag").cast("bigint")
                         .alias("n_frags_leaked")))
    return hits.orderBy("doc_id")


def sql_decontam_substring() -> str:
    L = DECON_FRAG_TOKENS
    ws = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH donors AS (
  SELECT doc_id, array_to_string(ws[1:{L}], ' ') AS frag
  FROM (SELECT doc_id, {ws} AS ws FROM documents
        WHERE doc_id % {DECON_DONOR_MOD} = {DECON_DONOR_REM})
  WHERE len(ws) >= {L}
),
frags AS (SELECT DISTINCT frag FROM donors),
corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {DECON_DONOR_MOD} <> {DECON_DONOR_REM}
  UNION ALL
  SELECT -doc_id AS doc_id,
         'quoted eval text ' || frag || ' end quote' AS text
  FROM donors WHERE (doc_id // {DECON_DONOR_MOD}) % 2 = 0
)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_frags_leaked
FROM (SELECT doc_id,
             array_to_string(list_filter(string_split(text, ' '),
                                         x -> x <> ''), ' ') AS ntext
      FROM corpus) d
JOIN frags f
  ON position((' ' || f.frag || ' ') IN (' ' || d.ntext || ' ')) > 0
GROUP BY d.doc_id
ORDER BY d.doc_id"""


# --- Incremental dedup (new batch vs indexed corpus) -------------------------
# Production ingest never re-pairs the corpus against itself: a new crawl
# batch is deduplicated AGAINST the already-indexed corpus, so the cost per
# ingest is O(|batch| + collisions) regardless of corpus size.  Docs with
# doc_id % INCR_NEW_MOD == INCR_NEW_REM stand in for the new batch.

INCR_NEW_MOD = 5
INCR_NEW_REM = 4
INCR_DUP_EST = 0.5   # signature-agreement fraction that marks a duplicate


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per new-batch document: corpus near-dup candidates via MinHash-LSH
    band collisions, the best signature-agreement estimate, and the
    keep/drop verdict.  Zero-candidate docs appear with n_candidates = 0.

    Scale shape: the corpus's banded signatures stream (they are the big
    side and in production live pre-materialized in the signature index);
    the NEW BATCH's bands broadcast onto them — one equi-join on
    (band, band_val), no corpus x corpus pairing, no shuffle of the
    corpus.  Contrast q_dedup_minhash_lsh, which is the full-corpus
    bootstrap; this is the steady-state ingest path.
    """
    sig = minhash_df(spark, sf_dir)
    is_new = F.col("doc_id") % INCR_NEW_MOD == INCR_NEW_REM
    new_sig, old_sig = sig.filter(is_new), sig.filter(~is_new)
    return incremental_verdicts(new_sig, old_sig).orderBy("new_doc_id")


def incremental_verdicts(new_sig: DataFrame, old_sig: DataFrame) -> DataFrame:
    """Per new-batch signature: candidate count, best signature-agreement
    estimate vs the corpus index, keep/drop verdict.  The batch side
    broadcasts; the corpus index streams (shared by the batch query and
    the streaming foreachBatch ingest path)."""
    cand = (banded_sigs(old_sig, "old_id")
            .join(F.broadcast(banded_sigs(new_sig, "new_id")),
                  ["band", "band_val"])
            .select("new_id", "old_id").distinct())
    na = new_sig.select(F.col("doc_id").alias("new_id"),
                        *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)])
    oa = old_sig.select(F.col("doc_id").alias("old_id"),
                        *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)])
    est = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
              for i in range(8)) / F.lit(8.0)
    # The scoring leg must not shuffle the corpus signature table either:
    # cand x batch-signatures is bounded by |batch| x collisions, so IT is
    # the broadcast side and `oa` streams through a BroadcastHashJoin —
    # without the outer hint Catalyst may sort-merge and exchange every
    # old_sig row even though only candidate old_ids matter (ADVICE r4;
    # plan-pinned in test_dedup_incremental_broadcasts_the_batch).
    scored = (F.broadcast(cand.join(F.broadcast(na), "new_id"))
                  .join(oa, "old_id")
                  .groupBy("new_id")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                       F.max(est).alias("best_est")))
    base = new_sig.select(F.col("doc_id").alias("new_id"))
    # verdict join: scored is batch-bounded — broadcast it so the final
    # leg never sort-merges either
    return (base.join(F.broadcast(scored), "new_id", "left")
                .select(F.col("new_id").alias("new_doc_id"),
                        F.coalesce("n_candidates", F.lit(0).cast("bigint"))
                         .alias("n_candidates"),
                        F.round("best_est", 6).alias("best_est"),
                        F.coalesce(F.col("best_est") >= INCR_DUP_EST,
                                   F.lit(False)).alias("is_dup")))


def sql_dedup_incremental() -> str:
    aggs = ", ".join(
        f"min((sid * {a} + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_AB))
    band_rows_new = " UNION ALL ".join(
        f"SELECT doc_id AS new_id, {bi} AS band, "
        f"h{2*bi} * {HASH_P} + h{2*bi+1} AS band_val FROM new_sig"
        for bi in range(N_BANDS))
    band_rows_old = " UNION ALL ".join(
        f"SELECT doc_id AS old_id, {bi} AS band, "
        f"h{2*bi} * {HASH_P} + h{2*bi+1} AS band_val FROM old_sig"
        for bi in range(N_BANDS))
    est = ("(" + " + ".join(
        f"CASE WHEN na.h{i} = oa.h{i} THEN 1 ELSE 0 END" for i in range(8))
        + ") / 8.0")
    return f"""{_shingles_with()},
sig AS (SELECT doc_id, {aggs} FROM shingles GROUP BY doc_id),
new_sig AS (SELECT * FROM sig WHERE doc_id % {INCR_NEW_MOD} = {INCR_NEW_REM}),
old_sig AS (SELECT * FROM sig WHERE doc_id % {INCR_NEW_MOD} <> {INCR_NEW_REM}),
nb AS ({band_rows_new}),
ob AS ({band_rows_old}),
cand AS (
  SELECT DISTINCT nb.new_id, ob.old_id
  FROM ob JOIN nb ON ob.band = nb.band AND ob.band_val = nb.band_val
),
scored AS (
  SELECT c.new_id, CAST(count(*) AS BIGINT) AS n_candidates,
         max({est}) AS best_est
  FROM cand c
  JOIN new_sig na ON c.new_id = na.doc_id
  JOIN old_sig oa ON c.old_id = oa.doc_id
  GROUP BY c.new_id
)
SELECT b.doc_id AS new_doc_id,
       coalesce(s.n_candidates, 0) AS n_candidates,
       round(s.best_est, 6) AS best_est,
       coalesce(s.best_est >= {INCR_DUP_EST}, false) AS is_dup
FROM new_sig b LEFT JOIN scored s ON b.doc_id = s.new_id
ORDER BY new_doc_id"""


# --- Intra-corpus repeated n-gram (boilerplate) detection --------------------
# Training-data hygiene beyond doc-level dedup: license headers, navigation
# chrome and quoted templates recur VERBATIM across otherwise-distinct
# documents ("Deduplicating Training Data Makes Language Models Better",
# Lee et al. 2022 — their EXACTSUBSTR pass).  A distributed suffix array is
# overkill for fixed-width spans; a token-window inverted index (the same
# machinery as q_decontam_substring, but self-referential: corpus vs corpus
# instead of corpus vs eval set) finds every RNG_W-token window shared by
# >= RNG_MIN_DF distinct documents in two hash-partitioned aggregations.

RNG_W = 8            # tokens per window (matches DECON_FRAG_TOKENS)
RNG_MIN_DF = 3       # distinct docs before a window counts as boilerplate
RNG_BOILER_MOD = 7   # seeded-header docs: doc_id % MOD == REM
RNG_BOILER_REM = 2
RNG_BOILER_VARIANTS = 3
_RNG_HDR_PRE = "standard header variant "
_RNG_HDR_POST = " all rights reserved do not redistribute this document "
# Natural 8-token verbatim recurrence across >=3 synthetic docs is
# ~vocab^-8-rare, so (as with _decon_corpus) a deterministic boilerplate
# header is seeded onto doc_id % 7 == 2 docs — 3 variants, each shared by
# ~1/21 of the corpus — making the parity row set non-empty by construction
# and exercising the df>=RNG_MIN_DF cut on a genuinely hot key.


def _rng_corpus(d: DataFrame) -> DataFrame:
    v = (F.col("doc_id") % RNG_BOILER_VARIANTS).cast("string")
    seeded = F.concat(F.lit(_RNG_HDR_PRE), v, F.lit(_RNG_HDR_POST),
                      F.col("text"))
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % RNG_BOILER_MOD == RNG_BOILER_REM, seeded)
         .otherwise(F.col("text")).alias("text"))


def q_dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate profile: how many of its RNG_W-token
    sliding windows recur in >= RNG_MIN_DF distinct documents.

    Scale shape: explode to (doc, window) is a map-only pass over
    O(total_tokens); pre-aggregating to (doc_id, window, cnt) BEFORE the
    document-frequency groupBy makes both shuffles map-side combined and
    makes df = count(*) exact over already-distinct (doc, window) pairs.
    The df join is an equi-join on the window key, co-partitioned with the
    producing aggregation.  At 100 TB the window key would be the 64-bit
    rolling hash (text.py doc_fingerprint recipe) instead of the literal
    string — same plan, 8-byte keys; the string key here is the
    oracle-parity choice.  Nothing is doc x doc; the hot keys are the
    seeded headers themselves, which is exactly what the operator reports.
    """
    corpus = _rng_corpus(T.docs_df(spark, sf_dir))
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    W = RNG_W
    idx = F.when(F.size("ws") >= W,
                 F.sequence(F.lit(1), F.size("ws") - (W - 1))) \
           .otherwise(F.array().cast("array<int>"))
    wins = (corpus.select("doc_id", ws.alias("ws"))
                  .select("doc_id", F.explode(
                      F.transform(idx, lambda i: F.concat_ws(
                          " ", F.slice("ws", i, W)))).alias("w")))
    perdoc = (wins.groupBy("doc_id", "w")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    df = (perdoc.groupBy("w")
                .agg(F.count(F.lit(1)).cast("bigint").alias("df_docs")))
    rep = F.when(F.col("df_docs") >= RNG_MIN_DF, F.col("cnt")) \
           .otherwise(F.lit(0).cast("bigint"))
    return (perdoc.join(df, "w")
                  .groupBy("doc_id")
                  .agg(F.sum("cnt").cast("bigint").alias("n_windows"),
                       F.sum(rep).cast("bigint").alias("repeated_windows"))
                  .select("doc_id", "n_windows", "repeated_windows",
                          (F.col("repeated_windows") > 0)
                           .alias("any_repeated"))
                  .orderBy("doc_id"))


def sql_dedup_repeated_ngrams() -> str:
    W = RNG_W
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {RNG_BOILER_MOD} = {RNG_BOILER_REM}
              THEN '{_RNG_HDR_PRE}'
                   || CAST(doc_id % {RNG_BOILER_VARIANTS} AS VARCHAR)
                   || '{_RNG_HDR_POST}' || text
              ELSE text END AS text
  FROM documents
),
wins AS (
  SELECT doc_id, array_to_string(ws[i:i + {W - 1}], ' ') AS w
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - {W - 1})) AS i
        FROM (SELECT doc_id, {toks} AS ws FROM corpus)
        WHERE len(ws) >= {W})
),
perdoc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
  FROM wins GROUP BY doc_id, w
),
df AS (SELECT w, CAST(count(*) AS BIGINT) AS df_docs FROM perdoc GROUP BY w)
SELECT p.doc_id,
       CAST(sum(p.cnt) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN d.df_docs >= {RNG_MIN_DF}
                     THEN p.cnt ELSE 0 END) AS BIGINT) AS repeated_windows,
       sum(CASE WHEN d.df_docs >= {RNG_MIN_DF} THEN p.cnt ELSE 0 END) > 0
         AS any_repeated
FROM perdoc p JOIN df d USING (w)
GROUP BY p.doc_id
ORDER BY p.doc_id"""


# --- Soft dedup: duplicate-aware sampling weights ----------------------------
# Hard dedup (drop all but one copy) discards the weak signal that a text
# repeated across sources is often IMPORTANT; soft dedup instead keeps every
# copy and downweights by commonness at sampling time ("SoftDedup", Xue et
# al., ACL 2024).  Here commonness = near-dup cluster size (exact duplicates
# share all shingles, so they land in the same LSH component — one unified
# multiplicity), composed with the quality band as an integer multiplier.

SOFT_BAND_MULT = {"high": 3, "medium": 2, "low": 1}
SOFT_SCALE = 1_000_000   # weights as exact ppm integers, no float division


def q_sample_softdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_size, quality_band, weight_ppm): sampling weight
    proportional to quality and inversely proportional to duplicate-cluster
    size, as an exact int64 ppm value (band_mult * SCALE // cluster_size) —
    no float arithmetic anywhere, so Spark and DuckDB agree bitwise.

    Scale shape: reuses the CC cluster pass (star contraction, O(log n)
    rounds) and one broadcast-free equi-join of the band column onto it;
    the weight itself is a Column expression.  Downstream, sampling
    against weight_ppm is the same hash-mod draw ``sample_mixture`` uses:
    keep iff pmod(hash64(doc_id), SCALE) < weight_ppm — deterministic,
    shuffle-free, executor-local."""
    clusters = q_dedup_clusters(spark, sf_dir) \
        .select("doc_id", "cluster_size")
    bands = T.quality_band_df(spark, sf_dir)
    mult = F.when(F.col("quality_band") == "high",
                  SOFT_BAND_MULT["high"]) \
            .when(F.col("quality_band") == "medium",
                  SOFT_BAND_MULT["medium"]) \
            .otherwise(SOFT_BAND_MULT["low"]).cast("long")
    return (clusters.join(bands, "doc_id")
                    .select("doc_id", "cluster_size", "quality_band",
                            F.floor(mult * F.lit(SOFT_SCALE)
                                    / F.col("cluster_size"))
                             .cast("bigint").alias("weight_ppm"))
                    .orderBy("doc_id"))


def sql_sample_softdedup() -> str:
    clusters = sql_dedup_clusters().strip()
    band = T.sql_quality_band_expr()
    return f"""
WITH clusters AS ({clusters}),
bands AS (SELECT doc_id, {band} AS quality_band FROM documents)
SELECT c.doc_id, c.cluster_size, b.quality_band,
       CAST(floor((CASE b.quality_band WHEN 'high' THEN {SOFT_BAND_MULT['high']}
                   WHEN 'medium' THEN {SOFT_BAND_MULT['medium']}
                   ELSE {SOFT_BAND_MULT['low']} END * {SOFT_SCALE})
                  / c.cluster_size) AS BIGINT) AS weight_ppm
FROM clusters c JOIN bands b ON c.doc_id = b.doc_id
ORDER BY c.doc_id"""


# --- Containment (asymmetric) near-dup ---------------------------------------
# Jaccard misses doc-inside-doc duplication: a short document wholly
# embedded in a long one has tiny union-normalized similarity but
# containment |Sa ∩ Sb| / |Sa| ~ 1.  Broder's containment measure is the
# standard detector for quote/boilerplate/wrapper duplication in web
# corpora; the pair generation reuses the capped shingle inverted index
# (never doc x doc), and the threshold test is exact integer arithmetic.

CONTAIN_NUM, CONTAIN_DEN = 1, 2   # containment >= 1/2


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-dup pairs (small ⊂-ish big) by shingle containment.

    Output: (doc_small, doc_big, containment) where the SMALLER shingle
    set's containment in the larger is >= CONTAIN_NUM/CONTAIN_DEN
    (size ties break to the lower doc_id as doc_small).  The filter
    compares n_common * DEN >= NUM * n_small in int64 — no float decides
    membership; the reported ratio is display-rounded only.

    Scale shape: identical to the Jaccard query's — hot-shingle cap, one
    inverted-index self-equi-join, map-side-combined pair counts; the
    directionality is pure column arithmetic after the join.
    """
    sh = shingles_cached(spark, sf_dir)
    hot = (sh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
             .filter(F.col("df") > MAX_SHINGLE_DF)
             .select("sid"))
    sh = sh.join(F.broadcast(hot), "sid", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.select(F.col("doc_id").alias("doc_id_b"),
                  F.col("sid").alias("sid_b"))
    common = (a.join(b, (F.col("sid") == F.col("sid_b"))
                     & (F.col("doc_id") < F.col("doc_id_b")))
                .groupBy("doc_id", "doc_id_b")
                .agg(F.count(F.lit(1)).alias("n_common")))
    j = (common
         .join(sizes.withColumnRenamed("n", "n_a"), "doc_id")
         .join(sizes.select(F.col("doc_id").alias("doc_id_b"),
                            F.col("n").alias("n_b")), "doc_id_b"))
    small_is_a = (F.col("n_a") < F.col("n_b")) | \
                 ((F.col("n_a") == F.col("n_b"))
                  & (F.col("doc_id") < F.col("doc_id_b")))
    n_small = F.when(small_is_a, F.col("n_a")).otherwise(F.col("n_b"))
    return (j.filter(F.col("n_common") * CONTAIN_DEN
                     >= CONTAIN_NUM * n_small)
             .select(F.when(small_is_a, F.col("doc_id"))
                      .otherwise(F.col("doc_id_b")).alias("doc_small"),
                     F.when(small_is_a, F.col("doc_id_b"))
                      .otherwise(F.col("doc_id")).alias("doc_big"),
                     F.round(F.col("n_common").cast("double") / n_small, 6)
                      .alias("containment"))
             .orderBy("doc_small", "doc_big"))


def sql_dedup_containment() -> str:
    return f"""{_shingles_with()},
hot AS (
  SELECT sid FROM shingles GROUP BY sid HAVING count(*) > {MAX_SHINGLE_DF}
),
kept AS (
  SELECT s.doc_id, s.sid FROM shingles s ANTI JOIN hot h ON s.sid = h.sid
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM kept a JOIN kept b
    ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sized AS (
  SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
         (sa.n < sb.n OR (sa.n = sb.n AND doc_a < doc_b)) AS small_is_a
  FROM common
  JOIN sizes sa ON common.doc_a = sa.doc_id
  JOIN sizes sb ON common.doc_b = sb.doc_id
)
SELECT CASE WHEN small_is_a THEN doc_a ELSE doc_b END AS doc_small,
       CASE WHEN small_is_a THEN doc_b ELSE doc_a END AS doc_big,
       round(CAST(n_common AS DOUBLE)
             / (CASE WHEN small_is_a THEN n_a ELSE n_b END), 6)
         AS containment
FROM sized
WHERE n_common * {CONTAIN_DEN}
      >= {CONTAIN_NUM} * (CASE WHEN small_is_a THEN n_a ELSE n_b END)
ORDER BY doc_small, doc_big"""


# --- Winnowing fingerprints (MOSS; Schleimer, Wilkerson & Aiken 2003) --------
# Robust local fingerprinting: hash every k-gram, slide a window of
# WINNOW_W hashes over each document, keep the window minimum (rightmost
# on ties).  The guarantee the shingle/minhash family lacks: any shared
# substring of length >= WINNOW_W + WINNOW_K - 1 tokens is DETECTED (some
# fingerprint of it is selected in both documents), while the stored set
# is ~n/W per document.  Pairs sharing >= WINNOW_MIN_SHARED fingerprints
# are overlap candidates.
#
# Scale shape: everything per-document is higher-order array work inside
# one projection (no self-joins on positions); the pair stage is the
# inverted-index equi-join on fingerprint value with the MAX_SHINGLE_DF
# hot-value cap (a fingerprint shared by k docs emits C(k,2) rows — same
# quadratic-blowup argument, same anti-join cure, as n-gram Jaccard).
# The O(n*W) slide (vs O(n) monotone deque) is the documented trade-off
# for staying in JVM Column expressions; W is a small constant.

WINNOW_K = 3            # k-gram width (tokens)
WINNOW_W = 4            # winnowing window (hashes)
WINNOW_B = 1009         # polynomial base over word ids
WINNOW_P = 1_000_003    # modulus
WINNOW_MIN_SHARED = 2   # pair threshold


def _winnow_fp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, fp): the selected winnowing fingerprints per doc."""
    d = T.docs_df(spark, sf_dir)
    v = T.vocab_df(spark, sf_dir)
    words = (d.select("doc_id", F.posexplode(F.split(F.col("text"), " ")))
               .withColumnRenamed("col", "word")
               .filter(F.col("word") != ""))
    arrs = (words.join(F.broadcast(v), "word")
                 .groupBy("doc_id")
                 .agg(F.expr("transform(sort_array(collect_list("
                             "struct(pos, wid))), s -> CAST(s.wid AS BIGINT))")
                       .alias("w")))
    k, W, B, P = WINNOW_K, WINNOW_W, WINNOW_B, WINNOW_P
    kh = (f"CASE WHEN size(w) >= {k} THEN "
          f"transform(sequence(1, size(w) - {k - 1}), p -> "
          f"(element_at(w, p) * {B * B} + element_at(w, p + 1) * {B} "
          f"+ element_at(w, p + 2)) % {P}) "
          f"ELSE CAST(array() AS array<bigint>) END")
    # window starts: 1..m-W+1 (or the single whole-array window when m < W)
    sel = (f"CASE WHEN size(kh) = 0 THEN "
           f"CAST(array() AS array<struct<pos: int, fp: bigint>>) ELSE "
           f"transform(sequence(1, greatest(size(kh) - {W - 1}, 1)), s -> "
           f"named_struct("
           f"'pos', CAST(array_max(filter(sequence(s, "
           f"least(s + {W - 1}, size(kh))), p -> element_at(kh, p) = "
           f"array_min(slice(kh, s, {W})))) AS INT), "
           f"'fp', array_min(slice(kh, s, {W})))) END")
    return (arrs.withColumn("kh", F.expr(kh))
                .select("doc_id", F.explode_outer(F.expr(sel)).alias("s"))
                .filter(F.col("s").isNotNull())
                .select("doc_id", F.col("s.pos").alias("pos"),
                        F.col("s.fp").alias("fp"))
                .distinct())


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the fingerprint rows (doc_id, pos, fp)."""
    return _winnow_fp_df(spark, sf_dir).orderBy("doc_id", "pos")


def _sql_winnow_cte() -> str:
    k, W, B, P = WINNOW_K, WINNOW_W, WINNOW_B, WINNOW_P
    return f"""{T.TOKENS_CTE.strip()},
{T.VOCAB_CTE.strip()},
warr AS (
  SELECT t.doc_id, list(CAST(v.wid AS BIGINT) ORDER BY t.pos) AS w
  FROM (SELECT doc_id, i - 1 AS pos, ws[i] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             unnest(generate_series(1, 100000)) AS u(i)
        WHERE i <= len(ws) AND ws[i] <> '') t
  JOIN vocab v ON t.word = v.word
  GROUP BY t.doc_id
),
kharr AS (
  SELECT doc_id,
         CASE WHEN len(w) >= {k} THEN
           list_transform(range(1, len(w) - {k - 1} + 1), p ->
             (w[p] * {B * B} + w[p + 1] * {B} + w[p + 2]) % {P})
         ELSE CAST([] AS BIGINT[]) END AS kh
  FROM warr
),
fps AS (
  SELECT DISTINCT doc_id,
         CAST(list_max(list_filter(range(s, least(s + {W - 1}, len(kh)) + 1),
                p -> kh[p] = list_min(kh[s:least(s + {W - 1}, len(kh))])))
              AS INT) AS pos,
         list_min(kh[s:least(s + {W - 1}, len(kh))]) AS fp
  FROM (SELECT doc_id, kh,
               unnest(generate_series(1, greatest(len(kh) - {W - 1}, 1))) AS s
        FROM kharr WHERE len(kh) > 0)
)"""


def sql_text_winnowing() -> str:
    return f"""
WITH {_sql_winnow_cte().strip()}
SELECT doc_id, pos, fp FROM fps ORDER BY doc_id, pos"""


@domain.checkpointed("winnow_fp_frame")
def _winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, fp) fingerprint frame."""
    return _winnow_fp_df(spark, sf_dir).select("doc_id", "fp").distinct()


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-candidate pairs sharing >= WINNOW_MIN_SHARED fingerprint
    VALUES, with the hot-fingerprint df cap (anti-join) applied first.

    The fingerprint frame is localCheckpoint'ed: it feeds FOUR plan
    branches (the hot-df aggregate, the anti-join probe, and both
    self-join sides), so without a materialization boundary the whole
    tokenize+winnow pass re-executes per branch — the same redundant-
    recompute class as the r11 pHash fix (VERDICT r10 items 1/6).  The
    frame is (doc_id, fp) — two int64s per fingerprint — but it is
    corpus-PROPORTIONAL, so a per-invocation checkpoint would pin a
    fresh copy per call until session GC (ADVICE r11); it is
    session-scoped instead."""
    fp = _winnow_fp(spark, sf_dir)
    hot = (fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
             .filter(F.col("df") > MAX_SHINGLE_DF)
             .select("fp"))
    cold = fp.join(F.broadcast(hot), "fp", "left_anti")
    a = cold.select(F.col("doc_id").alias("doc_a"), "fp")
    b = cold.select(F.col("doc_id").alias("doc_b"), "fp")
    return (a.join(b, "fp")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
             .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
             .orderBy("doc_a", "doc_b"))


def sql_winnowing_pairs() -> str:
    return f"""
WITH {_sql_winnow_cte().strip()},
vals AS (SELECT DISTINCT doc_id, fp FROM fps),
hot AS (SELECT fp FROM vals GROUP BY fp
        HAVING count(*) > {MAX_SHINGLE_DF}),
cold AS (SELECT * FROM vals WHERE fp NOT IN (SELECT fp FROM hot))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS INT) AS n_shared
FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b"""


# --- Duplicate-provenance flow matrix ----------------------------------------
# "Which sources duplicate into which": over the MinHash-LSH near-dup
# pairs, count pair endpoints by (lower-doc source -> higher-doc source,
# normalized so the pair key is orderless source-pair).  The provenance
# view a curation run reports alongside raw dedup counts — mirror-heavy
# source pairs jump out as off-diagonal mass.  (Exact md5 groups are empty
# on this corpus — near-dup pairs are the populated grain.)
#
# Scale shape: rides the existing LSH pair pipeline (band equi-joins);
# the flow itself is one broadcast source-lookup join per side + a tiny
# |sources|^2 aggregate.

def q_dedup_source_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    src = T.docs_df(spark, sf_dir).select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("source_b"))
    # NO broadcast hint on the source lookups: the docs projection is
    # corpus-sized, so at scale these are shuffle equi-joins keyed by the
    # (bounded) pair side; AQE still broadcasts when the projection is
    # actually small (it is at test SFs).
    flowed = (pairs.join(sa, "doc_a")
                   .join(sb, "doc_b")
                   .select(F.least("source_a", "source_b").alias("source_lo"),
                           F.greatest("source_a", "source_b")
                            .alias("source_hi")))
    return (flowed.groupBy("source_lo", "source_hi")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
                  .orderBy("source_lo", "source_hi"))


def sql_dedup_source_flow() -> str:
    pairs = sql_dedup_minhash_lsh().strip()
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({pairs})
)
SELECT least(sa.source, sb.source) AS source_lo,
       greatest(sa.source, sb.source) AS source_hi,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN documents sa ON sa.doc_id = p.doc_a
JOIN documents sb ON sb.doc_id = p.doc_b
GROUP BY least(sa.source, sb.source), greatest(sa.source, sb.source)
ORDER BY source_lo, source_hi"""


# --- Dedup-quality evaluation: LSH recall/precision vs exact Jaccard ---------
# The dedup twin of search_eval_metrics: MinHash-LSH candidate pairs are
# an approximation of the exact Jaccard >= threshold pair set; this
# operator reports the confusion counts and exact ppm recall/precision.
# The number every banding-parameter decision (bands x rows trade-off)
# is made from — computed ON the engine, not in a notebook.
#
# Scale shape: both pair sets come from their own inverted-index
# pipelines; the comparison is a full-outer equi-join on the pair key
# plus a 1-row aggregate.

def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (q_dedup_jaccard(spark, sf_dir)
             .select("doc_a", "doc_b", F.lit(1).alias("in_exact")))
    approx = (q_dedup_minhash_lsh(spark, sf_dir)
              .select("doc_a", "doc_b", F.lit(1).alias("in_approx")))
    j = exact.join(approx, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.sum(F.when(F.col("in_exact").isNotNull()
                     & F.col("in_approx").isNotNull(), 1).otherwise(0))
         .cast("bigint").alias("true_pos"),
        F.sum(F.when(F.col("in_exact").isNotNull()
                     & F.col("in_approx").isNull(), 1).otherwise(0))
         .cast("bigint").alias("false_neg"),
        F.sum(F.when(F.col("in_exact").isNull()
                     & F.col("in_approx").isNotNull(), 1).otherwise(0))
         .cast("bigint").alias("false_pos"))
    return agg.select(
        "true_pos", "false_neg", "false_pos",
        F.expr("CASE WHEN true_pos + false_neg > 0 THEN "
               "true_pos * 1000000 div (true_pos + false_neg) "
               "ELSE 1000000 END").alias("recall_ppm"),
        F.expr("CASE WHEN true_pos + false_pos > 0 THEN "
               "true_pos * 1000000 div (true_pos + false_pos) "
               "ELSE 1000000 END").alias("precision_ppm"))


def sql_dedup_eval() -> str:
    exact = sql_dedup_jaccard().strip()
    approx = sql_dedup_minhash_lsh().strip()
    return f"""
WITH exact_p AS (SELECT doc_a, doc_b FROM ({exact})),
approx_p AS (SELECT doc_a, doc_b FROM ({approx})),
j AS (
  SELECT coalesce(e.doc_a, a.doc_a) AS doc_a,
         e.doc_a IS NOT NULL AS in_exact,
         a.doc_a IS NOT NULL AS in_approx
  FROM exact_p e FULL OUTER JOIN approx_p a
    ON e.doc_a = a.doc_a AND e.doc_b = a.doc_b
)
SELECT
  CAST(sum(CASE WHEN in_exact AND in_approx THEN 1 ELSE 0 END) AS BIGINT)
    AS true_pos,
  CAST(sum(CASE WHEN in_exact AND NOT in_approx THEN 1 ELSE 0 END) AS BIGINT)
    AS false_neg,
  CAST(sum(CASE WHEN NOT in_exact AND in_approx THEN 1 ELSE 0 END) AS BIGINT)
    AS false_pos,
  CAST(CASE WHEN sum(CASE WHEN in_exact THEN 1 ELSE 0 END) > 0 THEN
    sum(CASE WHEN in_exact AND in_approx THEN 1 ELSE 0 END) * 1000000
      // sum(CASE WHEN in_exact THEN 1 ELSE 0 END)
    ELSE 1000000 END AS BIGINT) AS recall_ppm,
  CAST(CASE WHEN sum(CASE WHEN in_approx THEN 1 ELSE 0 END) > 0 THEN
    sum(CASE WHEN in_exact AND in_approx THEN 1 ELSE 0 END) * 1000000
      // sum(CASE WHEN in_approx THEN 1 ELSE 0 END)
    ELSE 1000000 END AS BIGINT) AS precision_ppm
FROM j"""


# --- Quality-aware canonical selection per duplicate cluster ------------------
# q_dedup_clusters keeps min-doc_id per component (the cheap canonical);
# production dedup keeps the HIGHEST-QUALITY member (Penedo et al. 2023
# RefinedWeb keeps by heuristic score) — dropping a clean original in
# favor of a boilerplate-wrapped copy because its id is smaller is a
# real data-quality loss.  The canonical is argmax(quality_u) with a
# min-doc_id tie-break, computed as two bounded aggregates + one
# equality join (no window over the corpus); quality_u is the EXACT
# integer micro-unit quality (``text.quality_u_df`` — per-term BIGINT
# floor division, ADVICE r6 high: the old ``round(quality * 1e6)`` on
# the composed double diverged from DuckDB in the last ulp at
# half-boundaries, flipping the argmax at some scale factors).

def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import quality_u_df
    clusters = q_dedup_clusters(spark, sf_dir) \
        .select("doc_id", "cluster_rep", "cluster_size") \
        .filter(F.col("cluster_size") >= 2)
    qual = quality_u_df(spark, sf_dir)
    j = clusters.join(qual, "doc_id")
    best = (j.groupBy("cluster_rep")
             .agg(F.max("quality_u").alias("best_q")))
    return (j.join(F.broadcast(best), "cluster_rep")
             .filter(F.col("quality_u") == F.col("best_q"))
             .groupBy("cluster_rep")
             .agg(F.min("doc_id").cast("bigint").alias("canonical_doc"),
                  F.max("cluster_size").cast("bigint").alias("cluster_size"),
                  F.max("best_q").cast("bigint").alias("canonical_quality_u"))
             .select("cluster_rep", "canonical_doc", "cluster_size",
                     "canonical_quality_u",
                     (F.col("canonical_doc") != F.col("cluster_rep"))
                      .alias("beats_min_id"))
             .orderBy("cluster_rep"))


def sql_dedup_canonical() -> str:
    from .text import sql_quality_u_cte
    return f"""
WITH clusters AS ({sql_dedup_clusters()}),
qual AS ({sql_quality_u_cte()}),
j AS (
  SELECT c.doc_id, c.cluster_rep, c.cluster_size, q.quality_u
  FROM clusters c JOIN qual q ON c.doc_id = q.doc_id
  WHERE c.cluster_size >= 2
),
best AS (
  SELECT cluster_rep, max(quality_u) AS best_q
  FROM j GROUP BY cluster_rep
)
SELECT j.cluster_rep,
       CAST(min(j.doc_id) AS BIGINT) AS canonical_doc,
       CAST(max(j.cluster_size) AS BIGINT) AS cluster_size,
       CAST(max(b.best_q) AS BIGINT) AS canonical_quality_u,
       (CAST(min(j.doc_id) AS BIGINT) != j.cluster_rep) AS beats_min_id
FROM j JOIN best b ON j.cluster_rep = b.cluster_rep
               AND j.quality_u = b.best_q
GROUP BY j.cluster_rep
ORDER BY j.cluster_rep"""


# --- Duplicated-span extraction (round 7) ---------------------------------------
# The actionable form of q_dedup_repeated_ngrams: Lee et al. 2022
# (EXACTSUBSTR) cut the duplicated BYTES out of each document, not the
# document out of the corpus.  This operator emits, per document, the
# merged token ranges covered by any RNG_W-token window that recurs in
# >= RNG_MIN_DF distinct documents — exactly the spans a dedup pass
# would strip.  Same seeded corpus and thresholds as
# q_dedup_repeated_ngrams.
#
# Scale shape (rebuilt r8 after its 2.5x sf-curve flag): ONE corpus
# pass, ONE corpus-grain exchange.  The window key is the 64-bit
# xxhash of the window text, not the literal W-token string — the
# string is ~W x the corpus bytes and shuffling it was half the
# query's cost (a 64-bit collision needs ~2^32 distinct windows for
# even-odds; at the 1e7-window test scale that's ~1e-6, and the
# driver's bit-exact oracle gate would surface one).  Document
# frequency then comes from a WINDOW over the wk-shuffled rows (max
# of dense_rank over doc_id = exact distinct-doc count) instead of
# the previous distinct -> groupBy -> self-join: that plan exploded
# the corpus twice (both join sides) and paid three token-grain
# exchanges; this one pays one sort-exchange on (wk, doc_id).
# Measured at sf1 (10x rows): 10.35s (string keys, self-join) ->
# 3.0s (token-hash keys, single-pass window), output hash-identical;
# the remaining cost is ~50% the map-only tokenize+hash scan — the
# floor for any operator that must touch every token.  Hot-window
# skew (a boilerplate window in millions of docs) lands that wk's
# rows in one sorted run — the same fan-in class the old join had;
# a df cap does not apply here because hot windows are exactly the
# spans this operator must keep.  The DuckDB oracle keeps the
# literal-string distinct+join formulation — the decomposition is
# physical, not semantic (same device as geo_knn_grid).  Span
# merging stays a per-DOCUMENT gaps-and-islands window — partition
# key has corpus cardinality, thousands of tiny independent sorts,
# never a global one.

def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    W = RNG_W
    corpus = _rng_corpus(T.docs_df(spark, sf_dir))
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    # Hash each token ONCE, then key each window by the xxhash of its
    # 8-long token-hash slice — rebuilding the W-token string per
    # position copies W x the corpus bytes map-side; the long-slice
    # variant measured 36% faster on the explode stage at sf1.
    toks = corpus.select(
        "doc_id", F.transform(ws, lambda t: F.xxhash64(t)).alias("th"))
    idx = F.when(F.size("th") >= W,
                 F.sequence(F.lit(1), F.size("th") - (W - 1))) \
           .otherwise(F.array().cast("array<int>"))
    wins = (toks.select("doc_id", F.explode(F.transform(
                idx, lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(F.slice("th", i, W)).alias("wk"))))
                .alias("pw"))
                .select("doc_id", F.col("pw.pos").alias("pos"),
                        F.col("pw.wk").alias("wk")))
    wk_doc = Window.partitionBy("wk").orderBy("doc_id")
    wk_all = Window.partitionBy("wk")
    dup = (wins.withColumn("dr", F.dense_rank().over(wk_doc))
               .withColumn("df_docs", F.max("dr").over(wk_all))
               .filter(F.col("df_docs") >= RNG_MIN_DF)
               .select("doc_id", "pos"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    lagp = F.lag("pos").over(wd)
    flagged = dup.withColumn(
        "f", F.when(lagp.isNull() | (F.col("pos") - lagp > W), 1)
              .otherwise(0))
    isl = flagged.withColumn(
        "isl", F.sum("f").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)))
    return (isl.groupBy("doc_id", "isl")
               .agg(F.min("pos").cast("bigint").alias("span_start"),
                    (F.max("pos") + (W - 1)).cast("bigint")
                     .alias("span_end"),
                    F.count(F.lit(1)).cast("bigint")
                     .alias("n_dup_windows"))
               .select("doc_id", "span_start", "span_end",
                       (F.col("span_end") - F.col("span_start") + 1)
                        .cast("bigint").alias("span_tokens"),
                       "n_dup_windows")
               .orderBy("doc_id", "span_start"))


def sql_dedup_duplicate_spans() -> str:
    W = RNG_W
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {RNG_BOILER_MOD} = {RNG_BOILER_REM}
              THEN '{_RNG_HDR_PRE}'
                   || CAST(doc_id % {RNG_BOILER_VARIANTS} AS VARCHAR)
                   || '{_RNG_HDR_POST}' || text
              ELSE text END AS text
  FROM documents
),
wins AS (
  SELECT doc_id, i AS pos, array_to_string(ws[i:i + {W - 1}], ' ') AS w
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - {W - 1})) AS i
        FROM (SELECT doc_id, {toks} AS ws FROM corpus)
        WHERE len(ws) >= {W})
),
dfreq AS (
  SELECT w FROM (SELECT w, count(DISTINCT doc_id) AS df_docs
                 FROM wins GROUP BY w)
  WHERE df_docs >= {RNG_MIN_DF}
),
dup AS (SELECT doc_id, pos FROM wins JOIN dfreq USING (w)),
fl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   IS NULL
               OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {W}
              THEN 1 ELSE 0 END AS f
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS isl
  FROM fl
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {W - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {W - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_windows
FROM isl
GROUP BY doc_id, isl
ORDER BY doc_id, span_start"""


# --- Cross-source n-gram contamination matrix (round 7) ---------------------------
# Which sources copy from which?  For every ordered source pair (a, b):
# how many of a's DISTINCT token trigrams also occur in b — the
# inter-source contamination view that decontamination and source-
# weighting decisions read.  The (source, gram) distinct table is
# vocabulary-grain (map-side combined); the pair join fans out per gram
# by AT MOST |sources| (the gram's source list), so the join is
# |grams| x |sources|^2 bounded — never doc x doc.

XS_NGRAM_W = 3


def q_dedup_cross_source_overlap(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    W = XS_NGRAM_W
    d = T.docs_df(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    idx = F.when(F.size("ws") >= W,
                 F.sequence(F.lit(1), F.size("ws") - (W - 1))) \
           .otherwise(F.array().cast("array<int>"))
    grams = (d.select("source", ws.alias("ws"))
              .select("source", F.explode(F.transform(
                  idx, lambda i: F.concat_ws(" ", F.slice("ws", i, W))))
                  .alias("g"))
              .distinct())
    sizes = (grams.groupBy("source")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams")))
    a = grams.select(F.col("source").alias("src_a"), "g")
    b = grams.select(F.col("source").alias("src_b"), "g")
    pairs = (a.join(b, "g")
              .filter(F.col("src_a") != F.col("src_b"))
              .groupBy("src_a", "src_b")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    return (pairs.join(F.broadcast(sizes.withColumnRenamed(
                 "source", "src_a")), "src_a")
                 .select("src_a", "src_b", "n_common", "n_grams",
                         F.expr("CAST(n_common * 1000000 div n_grams"
                                " AS BIGINT)").alias("overlap_ppm"))
                 .orderBy("src_a", "src_b"))


def sql_dedup_cross_source_overlap() -> str:
    W = XS_NGRAM_W
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH grams AS (
  SELECT DISTINCT source, array_to_string(ws[i:i + {W - 1}], ' ') AS g
  FROM (SELECT source, ws,
               unnest(generate_series(1, len(ws) - {W - 1})) AS i
        FROM (SELECT source, {toks} AS ws FROM documents)
        WHERE len(ws) >= {W})
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_grams
  FROM grams GROUP BY 1
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM grams a JOIN grams b ON a.g = b.g AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.n_common, s.n_grams,
       CAST(p.n_common * 1000000 // s.n_grams AS BIGINT) AS overlap_ppm
FROM pairs p JOIN sizes s ON p.src_a = s.source
ORDER BY p.src_a, p.src_b"""


# --- Longest duplicated span (round 11) ------------------------------------------
# The VARIABLE-LENGTH generalization of q_dedup_duplicate_spans — true
# EXACTSUBSTR maximality (Lee et al. 2022): per document, the length of
# the longest token span that occurs VERBATIM somewhere else in the
# corpus (another document, or another position of the same document —
# self-repeats count, matching the suffix-array semantics), exact for
# spans in [SPAN_W, SPAN_W + SPAN_EXT_CAP] tokens.  The fixed-width
# operator merges ranges covered by ANY duplicated window, so adjacent
# windows duplicated against DIFFERENT partners fuse into a span no
# single partner contains; this one requires one contiguous shared
# substring (VERDICT r10 "missing" #4).
#
# Method — distributed truncated-suffix-array neighbors:
#   1. key every position by its SPAN_W-token window hash `wk`; only
#      positions whose wk occurs >= 2 times can start a span (one
#      exchange of (doc_id, pos, wk) — 24 B/token, no text moves);
#   2. attach each surviving position's EXTENSION (the next
#      SPAN_EXT_CAP token hashes) by joining back to the token arrays
#      on doc_id (ext bytes are paid ONLY for duplicate positions);
#   3. within each wk bucket, sort by (ext, doc_id, pos): the classic
#      suffix-array property — max common prefix with ANY other suffix
#      = max(LCP with the two ADJACENT suffixes in sorted order) —
#      holds under any lexicographic order, so the hash alphabet
#      (engine) and the string alphabet (oracle) give identical LCPs
#      even though their sort orders differ;
#   4. span(doc,pos) = SPAN_W + max(lcp(prev), lcp(next)); per-doc max
#      + argmin position.
# Exchanges: wk (thin) -> doc_id (token arrays, one corpus pass) ->
# wk (dup rows only, carrying ext) -> doc grain.  Never doc x doc, no
# all-pairs; the expensive bytes ride only actual duplicate positions.
# The cap is explicit, not silent: longest_span saturates at
# SPAN_W + SPAN_EXT_CAP and the column says so.

SPAN_W = RNG_W          # minimum reportable span (window width)
SPAN_EXT_CAP = 24       # exact up to SPAN_W + 24 = 32-token spans


def _lcp(a, b):
    """Length of the common prefix of two hash arrays (0 when either is
    NULL — a bucket-edge row has no neighbor on that side)."""
    eq = F.zip_with(a, b, lambda x, y: F.coalesce(x == y, F.lit(False)))
    n = F.aggregate(
        eq,
        F.struct(F.lit(0).alias("n"), F.lit(True).alias("go")),
        lambda acc, e: F.struct(
            F.when(acc["go"] & e, acc["n"] + 1).otherwise(acc["n"])
             .alias("n"),
            (acc["go"] & e).alias("go")),
        lambda acc: acc["n"])
    return F.when(a.isNull() | b.isNull(), F.lit(0)).otherwise(n)


def q_dedup_longest_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    W = SPAN_W
    corpus = _rng_corpus(T.docs_df(spark, sf_dir))
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    toks = corpus.select(
        "doc_id", F.transform(ws, lambda t: F.xxhash64(t)).alias("th"))
    idx = F.when(F.size("th") >= W,
                 F.sequence(F.lit(1), F.size("th") - (W - 1))) \
           .otherwise(F.array().cast("array<int>"))
    wins = (toks.select("doc_id", F.explode(F.transform(
                idx, lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(F.slice("th", i, W)).alias("wk"))))
                .alias("pw"))
                .select("doc_id", F.col("pw.pos").alias("pos"),
                        F.col("pw.wk").alias("wk")))
    # total occurrences >= 2 (self-repeats count — EXACTSUBSTR, not the
    # distinct-doc boilerplate criterion of q_dedup_duplicate_spans)
    dup = (wins.withColumn("cnt", F.count(F.lit(1))
                           .over(Window.partitionBy("wk")))
               .filter(F.col("cnt") >= 2)
               .select("doc_id", "pos", "wk"))
    ext = (dup.join(toks, "doc_id")
              .select("doc_id", "pos", "wk",
                      F.slice("th", F.col("pos") + W, SPAN_EXT_CAP)
                       .alias("ext")))
    nb = Window.partitionBy("wk").orderBy("ext", "doc_id", "pos")
    spans = (ext.withColumn("pext", F.lag("ext").over(nb))
                .withColumn("next", F.lead("ext").over(nb))
                .select("doc_id", "pos",
                        (F.lit(W) + F.greatest(
                            _lcp(F.col("ext"), F.col("pext")),
                            _lcp(F.col("ext"), F.col("next"))))
                        .alias("span")))
    mx = spans.withColumn(
        "mx", F.max("span").over(Window.partitionBy("doc_id")))
    return (mx.filter(F.col("span") == F.col("mx"))
              .groupBy("doc_id")
              .agg(F.max("span").cast("bigint").alias("longest_span"),
                   F.min("pos").cast("bigint").alias("span_start"),
                   F.count(F.lit(1)).cast("bigint")
                    .alias("n_max_positions"))
              .orderBy("doc_id"))


def sql_dedup_longest_span() -> str:
    W = SPAN_W
    E = SPAN_EXT_CAP
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    # literal-token mirror: windows keyed by the W-token string, the
    # extension as a token list; lcp(a,b) counts the i with equal
    # prefixes a[1:i] = b[1:i] (prefix equality is monotone in i, so
    # the count IS the lcp).  The engine's hash decomposition is
    # physical, not semantic (same device as q_dedup_duplicate_spans).
    lcp_p = (f"CASE WHEN pext IS NULL THEN 0 ELSE len(list_filter("
             f"range(1, least(len(ext), len(pext)) + 1), "
             f"i -> ext[1:i] = pext[1:i])) END")
    lcp_n = (f"CASE WHEN next IS NULL THEN 0 ELSE len(list_filter("
             f"range(1, least(len(ext), len(next)) + 1), "
             f"i -> ext[1:i] = next[1:i])) END")
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {RNG_BOILER_MOD} = {RNG_BOILER_REM}
              THEN '{_RNG_HDR_PRE}'
                   || CAST(doc_id % {RNG_BOILER_VARIANTS} AS VARCHAR)
                   || '{_RNG_HDR_POST}' || text
              ELSE text END AS text
  FROM documents
),
wins AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[i:i + {W - 1}], ' ') AS w,
         ws[i + {W}:i + {W + E - 1}] AS ext
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - {W - 1})) AS i
        FROM (SELECT doc_id, {toks} AS ws FROM corpus)
        WHERE len(ws) >= {W})
),
dup AS (
  SELECT doc_id, pos, w, ext FROM (
    SELECT *, count(*) OVER (PARTITION BY w) AS cnt FROM wins)
  WHERE cnt >= 2
),
nb AS (
  SELECT doc_id, pos, ext,
         lag(ext) OVER (PARTITION BY w ORDER BY ext, doc_id, pos)
           AS pext,
         lead(ext) OVER (PARTITION BY w ORDER BY ext, doc_id, pos)
           AS next
  FROM dup
),
spans AS (
  SELECT doc_id, pos,
         {W} + greatest({lcp_p}, {lcp_n}) AS span
  FROM nb
),
mx AS (
  SELECT doc_id, pos, span,
         max(span) OVER (PARTITION BY doc_id) AS m
  FROM spans
)
SELECT doc_id,
       CAST(max(span) AS BIGINT) AS longest_span,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(count(*) AS BIGINT) AS n_max_positions
FROM mx
WHERE span = m
GROUP BY doc_id
ORDER BY doc_id"""
