"""Text-analysis operators over `documents` (P6 beyond-reference surface).

Shared tokenization + data-derived word dictionary, plus language/quality/
token statistics.  Everything is expressed so Spark and the DuckDB oracle
agree exactly: tokens are single-space splits, word ids come from a
row_number over the sorted distinct vocabulary (derived FROM the data, so
ids are stable at any scale), and all hashing is integer arithmetic.

Scale notes: the vocabulary dictionary is a distinct-aggregate (tiny
result) broadcast back onto the token stream; token long-forms are never
collected.  At 100 TB the only shuffle is the distinct + the final groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import domain

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]

# Deterministic language marker-word profiles for the n-gram/keyword
# language-ID heuristic (the synthetic corpus is English-ish; real corpora
# would extend the profiles).
LANG_MARKERS = {
    "en": ["the", "a", "and", "value", "table"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de", "shi", "le", "zai", "you"],
}


def docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain.load_table(spark, sf_dir, "documents")


def tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word) one row per token occurrence (empty tokens dropped)."""
    d = docs_df(spark, sf_dir)
    return (d.select("doc_id",
                     F.explode(F.split(F.col("text"), " ")).alias("word"))
             .filter(F.col("word") != ""))


TOKENS_CTE = """
tokens AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
)"""


def vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word -> 1-based id by sorted order; data-derived so ids are stable.

    Scale shape: ids equal a global ``row_number() OVER (ORDER BY word)``
    but are computed WITHOUT a single-partition global sort.  Words are
    bucketed by their 2-char prefix; ranking within bucket (a partitioned,
    distributed window) ordered by word, plus the cumulative count of all
    earlier buckets, reproduces the global sorted rank exactly — prefix
    order is a prefix of word order.  The per-bucket count table is bounded
    by the prefix alphabet (tiny), so the offset pass and the broadcast back
    are O(|buckets|) regardless of corpus size.  The DuckDB oracle keeps the
    plain global row_number because the ids are mathematically identical.
    """
    t = tokens_df(spark, sf_dir)
    words = (t.select("word").distinct()
              .withColumn("bkt", F.substring("word", 1, 2)))
    in_bucket = Window.partitionBy("bkt").orderBy("word")
    ranked = words.withColumn("r", F.row_number().over(in_bucket))
    counts = words.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    # Running sum over the tiny bucket table; the constant-but-non-foldable
    # partition key keeps the spec non-empty while the input is already
    # bounded by the prefix alphabet.  NOTE: must be `% 1`, not `* 0` —
    # Catalyst simplifies multiply-by-zero over non-nullable columns into a
    # foldable literal and then drops the partition spec entirely
    # (tests/test_plans.py::test_no_unpartitioned_windows_anywhere guards).
    off_w = (Window.partitionBy(F.length("bkt") % 1).orderBy("bkt")
                   .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("n").over(off_w), F.lit(0)))
    return (ranked.join(F.broadcast(offsets.select("bkt", "off")), "bkt")
                  .select("word",
                          (F.col("off") + F.col("r")).cast("int").alias("wid")))


VOCAB_CTE = """
vocab AS (
  SELECT word, row_number() OVER (ORDER BY word) AS wid
  FROM (SELECT DISTINCT word FROM tokens)
)"""


# --- Token statistics --------------------------------------------------------

def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequency, top 50 (ties by word asc)."""
    t = tokens_df(spark, sf_dir)
    counts = t.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    order = [F.col("n").desc(), F.col("word").asc()]
    # Distributed TakeOrderedAndProject, then rank the bounded 50-row result
    # (non-foldable constant partition key: see vocab_df).
    top = counts.orderBy(*order).limit(50)
    w = Window.partitionBy(F.length("word") % 1).orderBy(*order)
    return (top.withColumn("rank", F.row_number().over(w))
               .select(F.col("rank").cast("int").alias("rank"), "word", "n")
               .orderBy("rank"))


def sql_token_counts() -> str:
    return f"""
WITH {TOKENS_CTE.strip()}
SELECT CAST(rank AS INT) AS rank, word, n
FROM (
  SELECT word, count(*) AS n,
         row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rank
  FROM tokens GROUP BY word
)
WHERE rank <= 50 ORDER BY rank"""


# --- Language / source aggregations -----------------------------------------

def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    ntok = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    return (d.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.round(F.avg(F.col("n_chars").cast("double")), 6)
                   .alias("avg_chars"),
                  F.round(F.avg(ntok.cast("double")), 6).alias("avg_tokens"))
             .orderBy("lang"))


def sql_lang_stats() -> str:
    ntok = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
    return f"""
SELECT lang, count(*) AS n_docs,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
       round(avg(CAST({ntok} AS DOUBLE)), 6) AS avg_tokens
FROM documents GROUP BY lang ORDER BY lang"""


# --- Language-ID heuristic ---------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word voting: score per language = count of tokens in its
    marker set; detected = argmax (ties by language code asc)."""
    t = tokens_df(spark, sf_dir)
    scores = [
        F.sum(F.when(F.col("word").isin(markers), 1).otherwise(0))
         .alias(f"s_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]
    per_doc = t.groupBy("doc_id").agg(*scores)
    # argmax over the 5 fixed columns: greatest + case chain (ties -> asc code)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_MARKERS])
    detected = F.lit(None).cast("string")
    for lang in sorted(LANG_MARKERS):  # asc order => first max wins
        detected = F.coalesce(
            detected,
            F.when(F.col(f"s_{lang}") == best, F.lit(lang)))
    d = docs_df(spark, sf_dir).select("doc_id", "lang")
    return (per_doc.join(d, "doc_id")
                   .select("doc_id", detected.alias("detected_lang"),
                           (detected == F.col("lang")).alias("matches_label"))
                   .orderBy("doc_id"))


def sql_lang_id() -> str:
    score_cols = ", ".join(
        "sum(CASE WHEN word IN ({}) THEN 1 ELSE 0 END) AS s_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang)
        for lang, markers in LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    detect = "CASE " + " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)) + " END"
    return f"""
WITH {TOKENS_CTE.strip()},
per_doc AS (
  SELECT doc_id, {score_cols} FROM tokens GROUP BY doc_id
)
SELECT p.doc_id, {detect} AS detected_lang,
       ({detect} = d.lang) AS matches_label
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
ORDER BY p.doc_id"""


# --- Quality scoring ---------------------------------------------------------

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length + stopword-ratio + mean-word-length quality heuristic with a
    banded verdict — the shape of an LLM-data quality filter.

    All outputs are EXACT integer units (ppm / milli-chars / micro-unit
    quality, the ``quality_u_df`` formula).  The readout used to emit
    ``round(<composed double>, 6)`` columns, which diverge between Spark
    and DuckDB in the last ulp when the true rational lands exactly on a
    6-decimal half-boundary — caught at sf0.1 (doc 819's quality is
    exactly 0.5060625: Spark HALF_UP → 0.506063, DuckDB → 0.506062).
    Same divergence class as ADVICE r6 high; same integer-unit fix."""
    d = docs_df(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    base = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("nch"),
        F.size(toks).cast("bigint").alias("ntok"),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
         .cast("bigint").alias("nstop"))
    scored = base.select(
        "doc_id",
        F.col("ntok").alias("n_tokens"),
        F.expr("(1000000 * nstop) div greatest(ntok, 1)").cast("bigint")
         .alias("stopword_ppm"),
        F.expr("(1000 * (nch - ntok + 1)) div greatest(ntok, 1)")
         .cast("bigint").alias("mean_word_len_milli"),
        F.expr(
            "least(4000 * ntok, 400000)"
            " + least((1200000 * nstop) div greatest(ntok, 1), 300000)"
            " + least((300000 * (nch - ntok + 1)) div (8 * greatest(ntok, 1)),"
            "         300000)"
        ).cast("bigint").alias("quality_u"))
    band = (F.when(F.col("quality_u") >= 750000, "high")
             .when(F.col("quality_u") >= 500000, "medium")
             .otherwise("low"))
    return scored.select("doc_id", "n_tokens", "stopword_ppm",
                         "mean_word_len_milli", "quality_u",
                         band.alias("quality_band")).orderBy("doc_id")


def sql_quality_score() -> str:
    return f"""
WITH q AS ({sql_quality_u_parts_cte()})
SELECT doc_id, ntok AS n_tokens,
       (1000000 * nstop) // greatest(ntok, 1) AS stopword_ppm,
       (1000 * (nch - ntok + 1)) // greatest(ntok, 1)
         AS mean_word_len_milli,
       quality_u,
       CASE WHEN quality_u >= 750000 THEN 'high'
            WHEN quality_u >= 500000 THEN 'medium'
            ELSE 'low' END AS quality_band
FROM q ORDER BY doc_id"""


def quality_u_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_u) — the quality heuristic in EXACT micro-unit
    BIGINT arithmetic (ADVICE r6 high).  ``round(quality * 1e6)`` on the
    composed double differs between Spark and DuckDB in the last ulp at
    half-boundaries, so any consumer that keys on quality (argmax joins,
    canonical selection) was fixture-lucky.  Each min() term of the
    heuristic is a rational with an exact small-integer denominator
    (n_tokens, n_stop, n_chars are exact BIGINTs), so micro-unit quality
    is computed term-by-term with truncating integer division — verified
    identical on this Spark/DuckDB pair for all signs:

      0.4e6 * min(ntok/100, 1)              = least(4000*ntok, 400000)
      0.3e6 * min(4*nstop/ntok, 1)          = least(1200000*nstop div ntok, 300000)
      0.3e6 * min(((nchars-ntok+1)/ntok)/8,1)= least(300000*(nchars-ntok+1)
                                                     div (8*ntok), 300000)

    Per-term floors differ from the composed-double round by <3 ulp-scale
    micro-units — irrelevant for ranking, and every consumer's oracle
    mirrors this exact expression."""
    d = docs_df(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    ntok = F.size(toks).cast("bigint")
    nstop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("bigint")
    base = d.select("doc_id",
                    F.col("n_chars").cast("bigint").alias("nch"),
                    ntok.alias("ntok"), nstop.alias("nstop"))
    return base.select(
        "doc_id",
        F.expr(
            "least(4000 * ntok, 400000)"
            " + least((1200000 * nstop) div greatest(ntok, 1), 300000)"
            " + least((300000 * (nch - ntok + 1)) div (8 * greatest(ntok, 1)),"
            "         300000)"
        ).cast("bigint").alias("quality_u"))


def sql_quality_u_parts_cte() -> str:
    """DuckDB CTE body: (doc_id, nch, ntok, nstop, quality_u) — the
    ``quality_u_df`` formula with its integer inputs exposed, for
    readouts that also report the component ratios (DuckDB ``//`` and
    Spark ``div`` both truncate toward zero on this runtime pair)."""
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
  SELECT doc_id, nch, ntok, nstop,
         least(4000 * ntok, 400000)
         + least((1200000 * nstop) // greatest(ntok, 1), 300000)
         + least((300000 * (nch - ntok + 1)) // (8 * greatest(ntok, 1)),
                 300000) AS quality_u
  FROM (SELECT doc_id, CAST(n_chars AS BIGINT) AS nch,
               CAST(len({toks}) AS BIGINT) AS ntok,
               CAST(len(list_filter({toks}, x -> x IN ({stop_in}))) AS BIGINT)
                 AS nstop
        FROM documents)"""


def sql_quality_u_cte() -> str:
    """DuckDB CTE body mirroring ``quality_u_df`` verbatim: the
    (doc_id, quality_u) projection of ``sql_quality_u_parts_cte``."""
    return f"""
  SELECT doc_id, quality_u FROM ({sql_quality_u_parts_cte()})"""


def quality_band_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_band) — the band leg of ``q_quality_score``, as a
    composable input for reweighting operators (``dedup.py
    q_sample_softdedup``).  Thresholds compare the exact micro-unit
    ``quality_u`` (>= 750000 high, >= 500000 medium) so the band is the
    SAME integer-exact verdict everywhere quality is consumed — the
    composed-double compare this used to carry was deterministic but
    could disagree with the integer readout within 3 micro-units of a
    threshold."""
    q = quality_u_df(spark, sf_dir)
    band = (F.when(F.col("quality_u") >= 750000, "high")
             .when(F.col("quality_u") >= 500000, "medium")
             .otherwise("low"))
    return q.select("doc_id", band.alias("quality_band"))


def sql_quality_band_expr() -> str:
    """DuckDB scalar-subquery-free CASE expression mirroring
    ``quality_band_df`` over a row of ``documents`` (inline quality_u)."""
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    ntok = f"CAST(len({toks}) AS BIGINT)"
    nstop = f"CAST(len(list_filter({toks}, x -> x IN ({stop_in}))) AS BIGINT)"
    nch = "CAST(n_chars AS BIGINT)"
    qu = (f"(least(4000 * {ntok}, 400000)"
          f" + least((1200000 * {nstop}) // greatest({ntok}, 1), 300000)"
          f" + least((300000 * ({nch} - {ntok} + 1))"
          f" // (8 * greatest({ntok}, 1)), 300000))")
    return (f"CASE WHEN {qu} >= 750000 THEN 'high' "
            f"WHEN {qu} >= 500000 THEN 'medium' ELSE 'low' END")


# --- Document fingerprint (rolling hash over leading tokens) -----------------

FP_PRIME = 1_000_000_007
FP_BASE = 131


def fingerprint_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fingerprint) without the presentation sort — the reusable
    form (q_doc_fingerprint and the leakage-safe split both build on it)."""
    v = vocab_df(spark, sf_dir)
    d = docs_df(spark, sf_dir)
    pos = (d.select("doc_id", F.posexplode(F.split(F.col("text"), " ")))
             .withColumnRenamed("col", "word")
             .filter((F.col("word") != "") & (F.col("pos") < 8)))
    wp = pos.join(F.broadcast(v), "word")
    # fold: sum(wid * BASE^(7-pos)) % PRIME  (associative + exact in int64:
    # wid<=~5e4, BASE^7=6e14 -> fits, then mod)
    term = (F.col("wid") % FP_PRIME) * F.pow(F.lit(FP_BASE), 7 - F.col("pos")).cast("long")
    # term <= vocab_size * 131^7; the 8-term sum stays < 2^63 for any
    # vocabulary below ~10k words (DuckDB's HUGEINT sum is cast back).
    return (wp.groupBy("doc_id")
              .agg((F.sum(term) % FP_PRIME).alias("fingerprint")))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash of the first 8 word-ids: an order-sensitive
    content fingerprint (same-prefix docs collide; shuffled docs don't)."""
    return fingerprint_df(spark, sf_dir).orderBy("doc_id")


def sql_doc_fingerprint() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
{VOCAB_CTE.strip()},
pos AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
       (SELECT unnest(generate_series(1, 8)) AS i)
  WHERE i <= len(ws) AND ws[i] <> ''
)
SELECT p.doc_id,
       CAST(sum((v.wid % {FP_PRIME}) * CAST(pow({FP_BASE}, 7 - p.pos) AS BIGINT))
            % {FP_PRIME} AS BIGINT) AS fingerprint
FROM pos p JOIN vocab v ON p.word = v.word
GROUP BY p.doc_id
ORDER BY p.doc_id"""


# --- PII pattern scan --------------------------------------------------------
# Identical regex source strings evaluated by both engines (both use
# RE2/Java-regex-compatible syntax for these patterns).
PII_PATTERNS = {
    "emails": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "urls": "https?://[^\\s]+",
    "long_numbers": "[0-9]{6,}",
}


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII-pattern counts (emails / URLs / long digit runs) +
    an any-hit flag — the redaction-or-drop gate of a training-data
    pipeline, kept entirely in JVM regex (no UDF)."""
    d = docs_df(spark, sf_dir)
    counts = {k: F.size(F.regexp_extract_all(F.col("text"), F.lit(p), 0))
              for k, p in PII_PATTERNS.items()}
    any_hit = None
    for c in counts.values():
        any_hit = c > 0 if any_hit is None else any_hit | (c > 0)
    return (d.select("doc_id",
                     *[c.cast("bigint").alias(f"n_{k}")
                       for k, c in counts.items()],
                     any_hit.alias("has_pii"))
             .orderBy("doc_id"))


def sql_pii_scan() -> str:
    cols = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{k}"
        for k, p in PII_PATTERNS.items())
    flag = " OR ".join(
        f"len(regexp_extract_all(text, '{p}')) > 0"
        for p in PII_PATTERNS.values())
    return f"""
SELECT doc_id, {cols}, ({flag}) AS has_pii
FROM documents ORDER BY doc_id"""


# --- TF-IDF term weighting ---------------------------------------------------

TFIDF_TOPK = 5


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (idf = ln((1+N)/(1+df)) + 1, the standard smooth variant).

    Scale shape: tf is one (doc_id, word) groupBy; df reuses the tf table
    with a word-grain count; the scalar corpus size rides a broadcast; the
    top-k window partitions by doc_id.  No global sorts, no UDFs.
    """
    t = tokens_df(spark, sf_dir)
    tf = t.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = (docs_df(spark, sf_dir)
              .groupBy().agg(F.count(F.lit(1)).alias("n_docs")))
    idf = (F.log((F.lit(1.0) + F.col("n_docs"))
                 / (F.lit(1.0) + F.col("df"))) + F.lit(1.0))
    scored = (tf.join(dfreq, "word")
                .crossJoin(F.broadcast(n_docs))
                .select("doc_id", "word", "tf",
                        idf.alias("idf"),
                        (F.col("tf") * idf).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= TFIDF_TOPK)
                  .select("doc_id", F.col("rank").cast("int").alias("rank"),
                          "word", "tf",
                          F.round("idf", 6).alias("idf"),
                          F.round("tfidf", 6).alias("tfidf"))
                  .orderBy("doc_id", "rank"))


def sql_text_tfidf() -> str:
    idf = "(ln((1.0 + n.n_docs) / (1.0 + d.df)) + 1.0)"
    return f"""
WITH {TOKENS_CTE.strip()},
tf AS (SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY doc_id, word),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word, t.tf, {idf} AS idf, t.tf * {idf} AS tfidf
  FROM tf t JOIN dfreq d ON t.word = d.word CROSS JOIN nd n
)
SELECT doc_id, CAST(rank AS INT) AS rank, word, tf,
       round(idf, 6) AS idf, round(tfidf, 6) AS tfidf
FROM (
  SELECT doc_id, word, tf, idf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, word ASC) AS rank
  FROM scored
)
WHERE rank <= {TFIDF_TOPK}
ORDER BY doc_id, rank"""


# --- BPE-ish token counting --------------------------------------------------
# Word pieces / numbers / punctuation runs — the pre-tokenizer shape of
# GPT-style BPE vocabularies, as a pure regex (identical in Spark & DuckDB).
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per doc + corpus-level ratio."""
    d = docs_df(spark, sf_dir)
    ws = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit("")))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0))
    return (d.select("doc_id",
                     ws.cast("bigint").alias("ws_tokens"),
                     bpe.cast("bigint").alias("bpe_tokens"),
                     F.round(bpe.cast("double") / ws.cast("double"), 6)
                      .alias("bpe_per_word"))
             .orderBy("doc_id"))


def sql_token_count_bpe() -> str:
    ws = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
    bpe = f"len(regexp_extract_all(text, '{BPE_PATTERN}'))"
    return f"""
SELECT doc_id,
       CAST({ws} AS BIGINT) AS ws_tokens,
       CAST({bpe} AS BIGINT) AS bpe_tokens,
       round(CAST({bpe} AS DOUBLE) / CAST({ws} AS DOUBLE), 6) AS bpe_per_word
FROM documents ORDER BY doc_id"""


# --- Sliding-window document chunking (training-data prep) -------------------

CHUNK_TOKENS = 64   # window size in whitespace tokens
CHUNK_STRIDE = 48   # 16-token overlap between consecutive chunks


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size sliding-window chunks over each document's token sequence
    (64-token windows, 16-token overlap) — the standard context-window prep
    step of an LLM training pipeline.

    Scale design: pure per-row array algebra (`sequence` -> `explode` ->
    `slice` -> `array_join`), entirely inside whole-stage codegen with ZERO
    shuffles — a 100 TB corpus chunks at scan speed.  Chunk count per doc is
    1 if n <= 64 else ceil((n-64)/48)+1, so the final partial window is kept
    and every token lands in at least one chunk.
    """
    d = docs_df(spark, sf_dir)
    ws = F.split(F.col("text"), " ")
    base = d.select("doc_id", ws.alias("ws"),
                    F.size(ws).cast("bigint").alias("n_tokens"))
    n_chunks = F.when(F.col("n_tokens") <= CHUNK_TOKENS, F.lit(1).cast("bigint")) \
                .otherwise(F.expr(
                    f"(n_tokens - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) "
                    f"div {CHUNK_STRIDE} + 1")).cast("bigint")
    ch = base.select(
        "doc_id", "n_tokens", "ws",
        F.explode(F.sequence(F.lit(0).cast("bigint"),
                             n_chunks - 1)).alias("chunk_idx"))
    start = F.col("chunk_idx") * CHUNK_STRIDE          # 0-based
    clen = F.least(F.lit(CHUNK_TOKENS).cast("bigint"),
                   F.col("n_tokens") - start)
    return (ch.select(
                "doc_id",
                F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
                (start + 1).cast("bigint").alias("start_tok"),
                clen.cast("bigint").alias("chunk_len"),
                F.array_join(F.slice(F.col("ws"), (start + 1).cast("int"),
                                     clen.cast("int")), " ").alias("chunk_text"))
              .orderBy("doc_id", "chunk_idx"))


def sql_text_chunks() -> str:
    k, s = CHUNK_TOKENS, CHUNK_STRIDE
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, ws, n_tokens,
         CASE WHEN n_tokens <= {k} THEN 1
              ELSE (n_tokens - {k} + {s - 1}) // {s} + 1 END AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(i - 1 AS BIGINT) AS chunk_idx,
       CAST((i - 1) * {s} + 1 AS BIGINT) AS start_tok,
       CAST(least({k}, n_tokens - (i - 1) * {s}) AS BIGINT) AS chunk_len,
       array_to_string(ws[CAST((i - 1) * {s} + 1 AS BIGINT):
                          CAST((i - 1) * {s} + least({k}, n_tokens - (i - 1) * {s}) AS BIGINT)],
                       ' ') AS chunk_text
FROM c, unnest(generate_series(1, n_chunks)) AS u(i)
ORDER BY doc_id, chunk_idx"""


# --- Deterministic stratified sampling (corpus rebalancing) ------------------

SAMPLE_TARGET_PER_STRATUM = 60
SAMPLE_MOD = 1_000_003            # prime fold before the Knuth multiply
SAMPLE_KNUTH = 2_654_435_761      # Knuth multiplicative constant
SAMPLE_P = 1_000_000_007


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified downsampling to ~SAMPLE_TARGET_PER_STRATUM
    docs per stratum — the corpus-rebalancing step of a training-data
    pipeline (cap overrepresented languages, keep small strata whole).

    Deterministic by construction: the keep decision is integer hash
    arithmetic on doc_id (Knuth multiplicative hash into per-mille
    buckets), NOT rand(), so the sample is reproducible, oracle-checkable,
    and stable under re-partitioning.  Scale design: the per-stratum rate
    table is a tiny broadcast join; the corpus scan itself never shuffles,
    so sampling 100 TB is a single filter pass.
    """
    d = docs_df(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_stratum"))
    rates = counts.select(
        "lang", "n_stratum",
        F.least(F.lit(1000).cast("bigint"),
                F.expr(f"{SAMPLE_TARGET_PER_STRATUM * 1000} div n_stratum"))
         .alias("keep_per_mille"))
    bucket = F.expr(f"pmod(pmod(doc_id, {SAMPLE_MOD}) * {SAMPLE_KNUTH}, "
                    f"{SAMPLE_P}) % 1000")
    return (d.join(F.broadcast(rates), "lang")
              .where(bucket < F.col("keep_per_mille"))
              .select("doc_id", "lang", "n_stratum", "keep_per_mille")
              .orderBy("doc_id"))


def sql_sample_stratified() -> str:
    t = SAMPLE_TARGET_PER_STRATUM * 1000
    bucket = (f"(((doc_id % {SAMPLE_MOD}) * {SAMPLE_KNUTH}) "
              f"% {SAMPLE_P}) % 1000")
    return f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_stratum
  FROM documents GROUP BY lang
),
r AS (
  SELECT lang, n_stratum,
         least(1000, {t} // n_stratum) AS keep_per_mille
  FROM c
)
SELECT d.doc_id, d.lang, r.n_stratum,
       CAST(r.keep_per_mille AS BIGINT) AS keep_per_mille
FROM documents d JOIN r USING (lang)
WHERE {bucket} < r.keep_per_mille
ORDER BY d.doc_id"""


# --- Sequence packing (concat-and-chunk context windows) ---------------------
# GPT-style pretraining packs the tokenized corpus per language into a
# single stream and slices fixed-size context windows; each document's
# packing coordinates (stream offset, window id, whether it straddles a
# window boundary) drive batch assembly and cross-document attention masks.

PACK_BIN_TOKENS = 512   # context-window capacity in whitespace tokens
PACK_SEG_DOCS = 1024    # prefix-sum segment width (doc_id range per segment)


def q_text_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document packing coordinates in the per-language token stream.

    Semantics: documents concatenate in (lang, doc_id) order; a document's
    start_off is the running token count before it, bin_id = start_off div
    PACK_BIN_TOKENS, and spans_bins marks documents straddling a window
    boundary (they need a cross-window attention mask).

    Scale shape — a two-level distributed prefix sum, NOT one global
    window per language (which would sort each language's whole corpus on
    a single task): doc_ids are dense, so contiguous PACK_SEG_DOCS-wide
    ranges form segments; the within-segment cumulative sum is a window
    partitioned by (lang, segment) — thousands of well-sized partitions —
    and segment start offsets come from a bounded |docs|/PACK_SEG_DOCS-row
    aggregate (recursable to more levels if that ever stops fitting one
    task), broadcast back.  Integer arithmetic throughout, so the
    decomposition equals the single global window EXACTLY — which is what
    the DuckDB oracle declares (tests/test_plans.py also asserts the
    Spark-side equivalence of the two forms).
    """
    d = docs_df(spark, sf_dir)
    ntok = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    base = d.select("lang", "doc_id",
                    ntok.cast("bigint").alias("n_tokens"),
                    F.expr(f"doc_id div {PACK_SEG_DOCS}").alias("seg"))
    in_seg = (Window.partitionBy("lang", "seg").orderBy("doc_id")
                    .rowsBetween(Window.unboundedPreceding, 0))
    seg_tot = base.groupBy("lang", "seg").agg(F.sum("n_tokens").alias("n"))
    # exclusive running sum over the bounded per-(lang) segment table
    seg_w = (Window.partitionBy("lang").orderBy("seg")
                   .rowsBetween(Window.unboundedPreceding, -1))
    seg_off = seg_tot.withColumn(
        "seg_off", F.coalesce(F.sum("n").over(seg_w), F.lit(0)))
    j = base.join(F.broadcast(seg_off.select("lang", "seg", "seg_off")),
                  ["lang", "seg"])
    start = (F.col("seg_off") + F.sum("n_tokens").over(in_seg)
             - F.col("n_tokens"))
    out = j.withColumn("start_off", start)
    b = PACK_BIN_TOKENS
    return (out.select(
                "lang", "doc_id", "n_tokens", "start_off",
                F.expr(f"start_off div {b}").alias("bin_id"),
                (F.col("start_off") % b).alias("bin_off"),
                F.when(F.col("n_tokens") > 0,
                       F.expr(f"(start_off + n_tokens - 1) div {b}")
                       > F.expr(f"start_off div {b}"))
                 .otherwise(F.lit(False)).alias("spans_bins"))
               .orderBy("lang", "doc_id"))


def sql_text_pack_offsets() -> str:
    ntok = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
    b = PACK_BIN_TOKENS
    return f"""
WITH d AS (
  SELECT lang, doc_id, CAST({ntok} AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT lang, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_off
  FROM d
)
SELECT lang, doc_id, n_tokens, start_off,
       CAST(start_off // {b} AS BIGINT) AS bin_id,
       CAST(start_off % {b} AS BIGINT) AS bin_off,
       CASE WHEN n_tokens > 0
            THEN (start_off + n_tokens - 1) // {b} > start_off // {b}
            ELSE false END AS spans_bins
FROM c ORDER BY lang, doc_id"""


# --- Repetition-ratio quality signals (Gopher-style filters) -----------------
# Pretraining corpora drop documents dominated by repeated content; the
# standard signals are the fraction of tokens covered by the most frequent
# word / bigram and the fraction of trigram occurrences that are duplicates.

REP_TOP_WORD_MAX = 0.20     # Gopher-style thresholds on the fractions
REP_TOP_BIGRAM_MAX = 0.18
REP_DUP_TRIGRAM_MAX = 0.30


def _grams_col(n: int):
    """word n-gram array from the ``ws`` token array (empty when len < n).

    The sequence is guarded: Spark's sequence(1, 0) would produce a
    DESCENDING [1, 0], not an empty list.
    """
    if n == 1:
        return F.col("ws")
    idx = F.when(F.size("ws") >= n,
                 F.sequence(F.lit(1), F.size("ws") - (n - 1))) \
           .otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("ws"), i + k) for k in range(n)]))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition fractions + the composed keep flag.

    Scale shape: three explode -> groupBy(doc_id, gram) -> groupBy(doc_id)
    chains — all equi-key aggregations with map-side combine, no windows,
    no doc x doc interaction.  Documents too short for an n-gram get NULL
    for that fraction (no evidence) and it does not fail the filter —
    identical CASE logic in the oracle.
    """
    d = docs_df(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    base = d.select("doc_id", ws.alias("ws"))

    def frac(n: int, dup: bool, name: str) -> DataFrame:
        g = base.select("doc_id", F.explode(_grams_col(n)).alias("g"))
        c = g.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n"))
        num = (F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
               if dup else F.max("n"))
        return c.groupBy("doc_id").agg(
            F.round(num.cast("double") / F.sum("n"), 6).alias(name))

    out = (base.select("doc_id", F.size("ws").alias("n_tokens"))
               .join(frac(1, False, "top_word_frac"), "doc_id", "left")
               .join(frac(2, False, "top_bigram_frac"), "doc_id", "left")
               .join(frac(3, True, "dup_trigram_frac"), "doc_id", "left"))
    keep = ((F.coalesce(F.col("top_word_frac") <= REP_TOP_WORD_MAX, F.lit(True)))
            & (F.coalesce(F.col("top_bigram_frac") <= REP_TOP_BIGRAM_MAX,
                          F.lit(True)))
            & (F.coalesce(F.col("dup_trigram_frac") <= REP_DUP_TRIGRAM_MAX,
                          F.lit(True))))
    return (out.select("doc_id", "n_tokens", "top_word_frac",
                       "top_bigram_frac", "dup_trigram_frac",
                       keep.alias("passes_repetition_filter"))
               .orderBy("doc_id"))


def sql_text_repetition() -> str:
    ws = "list_filter(string_split(text, ' '), x -> x <> '')"

    def grams(n):
        if n == 1:
            return "ws"
        parts = " || ' ' || ".join(f"ws[i + {k}]" for k in range(n))
        return (f"CASE WHEN len(ws) >= {n} THEN "
                f"list_transform(range(1, len(ws) - {n - 2}), i -> {parts}) "
                f"ELSE [] END")

    def frac(n, dup, name):
        num = ("sum(CASE WHEN n >= 2 THEN n ELSE 0 END)" if dup else "max(n)")
        return f"""
  SELECT doc_id, round(CAST({num} AS DOUBLE) / sum(n), 6) AS {name}
  FROM (
    SELECT doc_id, g, count(*) AS n
    FROM (SELECT doc_id, unnest({grams(n)}) AS g
          FROM (SELECT doc_id, {ws} AS ws FROM documents))
    GROUP BY doc_id, g
  ) GROUP BY doc_id"""

    keep = (f"(coalesce(f1.top_word_frac <= {REP_TOP_WORD_MAX}, true) AND "
            f"coalesce(f2.top_bigram_frac <= {REP_TOP_BIGRAM_MAX}, true) AND "
            f"coalesce(f3.dup_trigram_frac <= {REP_DUP_TRIGRAM_MAX}, true))")
    return f"""
WITH base AS (SELECT doc_id, len({ws}) AS n_tokens FROM documents),
f1 AS ({frac(1, False, 'top_word_frac')}),
f2 AS ({frac(2, False, 'top_bigram_frac')}),
f3 AS ({frac(3, True, 'dup_trigram_frac')})
SELECT b.doc_id, b.n_tokens, f1.top_word_frac, f2.top_bigram_frac,
       f3.dup_trigram_frac, {keep} AS passes_repetition_filter
FROM base b
LEFT JOIN f1 ON b.doc_id = f1.doc_id
LEFT JOIN f2 ON b.doc_id = f2.doc_id
LEFT JOIN f3 ON b.doc_id = f3.doc_id
ORDER BY b.doc_id"""


# --- Per-domain quota sampling (cap overrepresented sources) -----------------
# The domain-rebalancing step of a web-corpus pipeline (cap any one crawl
# source/domain at a fixed document budget, pick the survivors by a
# deterministic pseudo-random rank so reruns and backfills agree).

DOMAIN_QUOTA = 18   # binds below the 25 docs/source of sf0.01


def q_sample_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most DOMAIN_QUOTA documents per ``source``, chosen by a
    deterministic Knuth-hash ranking of doc_id (reproducible "random"
    sample; ties impossible because the hash is injective on doc_id within
    one source at these moduli, but doc_id still breaks them defensively).

    Scale shape: a per-group top-k, NOT a full per-source sort: the
    row_number <= k filter triggers Spark's WindowGroupLimit rewrite, which
    truncates every map partition to its local top-k BEFORE the shuffle —
    at 100 TB each task forwards <= k rows per source it sees, so the
    exchange carries O(#partitions x #sources x k), independent of corpus
    size.  tests/test_plans.py pins the group-limit shape.
    """
    d = docs_df(spark, sf_dir)
    rk = F.expr(f"pmod(pmod(doc_id, {SAMPLE_MOD}) * {SAMPLE_KNUTH}, "
                f"{SAMPLE_P})")
    w = Window.partitionBy("source").orderBy("rk", "doc_id")
    return (d.select("doc_id", "source", rk.alias("rk"))
             .withColumn("quota_rank",
                         F.row_number().over(w).cast("bigint"))
             .where(F.col("quota_rank") <= DOMAIN_QUOTA)
             .select("doc_id", "source", "quota_rank")
             .orderBy("source", "quota_rank"))


def sql_sample_domain_quota() -> str:
    rk = f"(((doc_id % {SAMPLE_MOD}) * {SAMPLE_KNUTH}) % {SAMPLE_P})"
    return f"""
SELECT doc_id, source, quota_rank
FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY {rk}, doc_id) AS BIGINT)
           AS quota_rank
  FROM documents
)
WHERE quota_rank <= {DOMAIN_QUOTA}
ORDER BY source, quota_rank"""


# --- Unigram-LM quality score (CCNet-style perplexity proxy) -----------------
# Score each document by the mean negative log2-probability of its tokens
# under the corpus's own unigram language model.  High bits/token = tokens
# rare in the corpus = "surprising" text; pipelines bucket on this to drop
# gibberish (very high) and boilerplate (very low).

def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram bits/token against the corpus unigram LM.

    Scale shape: the unigram model is a token-grain groupBy (map-side
    combined, vocabulary-bounded output) broadcast back onto the token
    stream, then one doc-grain aggregation — the same two-shuffle budget
    as TF-IDF.  No windows, no doc x doc interaction; probabilities are
    exact ratios of BIGINT counts so both engines derive log2 from the
    identical rational number.
    """
    toks = tokens_df(spark, sf_dir)
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_word"))
    total = toks.count()  # scalar: corpus token count (one aggregate)
    bits = -F.log2(F.col("n_word").cast("double") / F.lit(float(total)))
    scored = (toks.join(F.broadcast(freq), "word")
                  .groupBy("doc_id")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                       F.round(F.avg(bits), 6).alias("bits_per_token")))
    return scored.orderBy("doc_id")


def sql_text_unigram_lm() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
freq AS (SELECT word, count(*) AS n_word FROM tokens GROUP BY word),
total AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM tokens)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-log2(CAST(f.n_word AS DOUBLE) / total.n_total)), 6)
         AS bits_per_token
FROM tokens t JOIN freq f ON t.word = f.word CROSS JOIN total
GROUP BY t.doc_id
ORDER BY t.doc_id"""


# --- Data mixing / domain reweighting (DoReMi-style rates, exact) ------------
# Pretraining corpora are built to a TARGET domain mixture (e.g. 60% web /
# 30% books / 10% code by tokens).  Given per-domain token inventories, the
# maximum total budget honoring the mixture is bounded by the scarcest
# domain: B = min_d floor(tokens_d * 1000 / w_d) (w_d in per-mille).  Each
# domain then contributes take_d = (w_d * B) div 1000 tokens, realized by
# deterministic hash-mod document sampling at keep-rate
# (take_d * 1000) div tokens_d per-mille — the same Knuth-hash device as
# q_sample_stratified, so the sample is reproducible and oracle-exact.
# All arithmetic is int64, so both engines agree bitwise.
#
# Scale shape: the rate computation is a |domains|-row aggregate (one
# map-side-combined groupBy + a 3-row min); the sampling pass is a single
# broadcast-join + filter over the corpus scan — no corpus shuffle.  This
# is how a 100 TB mixture rebuild actually runs: plan rates from the
# inventory, then one pass to emit the sample.

MIX_TARGETS = [("web", 600), ("books", 300), ("code", 100)]  # per-mille


def _mix_domain_col():
    """source 'srcN' -> domain by N % 3 (the synthetic domain mapping)."""
    n = F.substring(F.col("source"), 4, 10).cast("int")
    return (F.when(n % 3 == 0, "web")
             .when(n % 3 == 1, "books")
             .otherwise("code"))


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    ntok = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    base = d.select("doc_id", _mix_domain_col().alias("domain"),
                    ntok.cast("bigint").alias("n_tokens"))
    w = F.when(F.col("domain") == "web", MIX_TARGETS[0][1]) \
         .when(F.col("domain") == "books", MIX_TARGETS[1][1]) \
         .otherwise(MIX_TARGETS[2][1]).cast("bigint")
    inv = (base.groupBy("domain")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").alias("tok"))
               .withColumn("w", w)
               .withColumn("cap", F.expr("(tok * 1000) div w")))
    budget = inv.agg(F.min("cap").alias("B"))
    rates = (inv.crossJoin(F.broadcast(budget))
                .withColumn("take", F.expr("(w * B) div 1000"))
                .withColumn("keep_per_mille",
                            F.least(F.lit(1000).cast("bigint"),
                                    F.expr("(take * 1000) div tok")))
                .withColumn("binding", F.col("cap") == F.col("B")))
    bucket = F.expr(f"pmod(pmod(doc_id, {SAMPLE_MOD}) * {SAMPLE_KNUTH}, "
                    f"{SAMPLE_P}) % 1000")
    sampled = (base.join(F.broadcast(rates.select("domain", "keep_per_mille")),
                         "domain")
                   .where(bucket < F.col("keep_per_mille"))
                   .groupBy("domain")
                   .agg(F.count(F.lit(1)).alias("n_sampled_docs"),
                        F.sum("n_tokens").alias("n_sampled_tokens")))
    return (rates.join(F.broadcast(sampled), "domain", "left")
                 .select("domain", "n_docs", F.col("tok").alias("n_tokens"),
                         "keep_per_mille", "binding",
                         F.coalesce("n_sampled_docs", F.lit(0).cast("bigint"))
                          .alias("n_sampled_docs"),
                         F.coalesce("n_sampled_tokens",
                                    F.lit(0).cast("bigint"))
                          .alias("n_sampled_tokens"))
                 .orderBy("domain"))


def sql_sample_mixture() -> str:
    bucket = (f"(((doc_id % {SAMPLE_MOD}) * {SAMPLE_KNUTH}) "
              f"% {SAMPLE_P}) % 1000")
    wcase = ("CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 THEN 'web' "
             "WHEN CAST(substr(source, 4) AS INT) % 3 = 1 THEN 'books' "
             "ELSE 'code' END")
    tgt = ("CASE domain WHEN 'web' THEN 600 WHEN 'books' THEN 300 "
           "ELSE 100 END")
    return f"""
WITH base AS (
  SELECT doc_id, {wcase} AS domain,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
inv AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tok,
         CAST({tgt} AS BIGINT) AS w
  FROM base GROUP BY domain
),
caps AS (SELECT *, (tok * 1000) // w AS cap FROM inv),
b AS (SELECT min(cap) AS B FROM caps),
rates AS (
  SELECT c.domain, c.n_docs, c.tok, c.w, c.cap, b.B,
         (c.w * b.B) // 1000 AS take,
         least(1000, (((c.w * b.B) // 1000) * 1000) // c.tok)
           AS keep_per_mille,
         c.cap = b.B AS binding
  FROM caps c CROSS JOIN b
),
sampled AS (
  SELECT bs.domain,
         CAST(count(*) AS BIGINT) AS n_sampled_docs,
         CAST(sum(bs.n_tokens) AS BIGINT) AS n_sampled_tokens
  FROM base bs JOIN rates r USING (domain)
  WHERE {bucket} < r.keep_per_mille
  GROUP BY bs.domain
)
SELECT r.domain, r.n_docs, r.tok AS n_tokens,
       CAST(r.keep_per_mille AS BIGINT) AS keep_per_mille, r.binding,
       coalesce(s.n_sampled_docs, 0) AS n_sampled_docs,
       coalesce(s.n_sampled_tokens, 0) AS n_sampled_tokens
FROM rates r LEFT JOIN sampled s USING (domain)
ORDER BY r.domain"""


# --- Leakage-safe train/val/test split ---------------------------------------
# The canonical pre-training holdout mistake is splitting by doc_id: two
# near-identical documents straddle the train/test boundary and the eval
# leaks.  Splitting on a CONTENT key instead of the row key sends every
# exact-duplicate group to the same side by construction.  The hash is the
# same Knuth multiplicative bucket as the sampling family (reproducible,
# re-partition-stable, rand()-free); the content key is the rolling-hash
# fingerprint.  Docs too short to fingerprint (no in-vocab token in the
# first 8 positions) fall back to fingerprint 0 — i.e. they form one
# group, which is exactly right: they are content-indistinguishable.

SPLIT_TRAIN_PER_MILLE = 800   # [0,800) train, [800,900) val, [900,1000) test
SPLIT_VAL_PER_MILLE = 900


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test assignment.

    Scale: the fingerprint is one map-side-combined aggregate over the
    first 8 tokens per doc; the split itself is pure column arithmetic —
    no extra shuffle beyond the fingerprint's groupBy, and the assignment
    is identical no matter how the corpus is partitioned or re-ingested.
    """
    d = docs_df(spark, sf_dir).select("doc_id", "lang")
    fp = fingerprint_df(spark, sf_dir)
    j = d.join(fp, "doc_id", "left") \
         .withColumn("fingerprint", F.coalesce("fingerprint", F.lit(0)))
    bucket = F.expr(f"pmod(pmod(fingerprint, {SAMPLE_MOD}) * {SAMPLE_KNUTH}, "
                    f"{SAMPLE_P}) % 1000")
    split = (F.when(bucket < SPLIT_TRAIN_PER_MILLE, "train")
              .when(bucket < SPLIT_VAL_PER_MILLE, "val")
              .otherwise("test"))
    return (j.select("doc_id", "lang", "fingerprint",
                     bucket.cast("bigint").alias("bucket"),
                     split.alias("split"))
             .orderBy("doc_id"))


def sql_sample_split() -> str:
    bucket = (f"(((fingerprint % {SAMPLE_MOD}) * {SAMPLE_KNUTH}) "
              f"% {SAMPLE_P}) % 1000")
    return f"""
WITH {TOKENS_CTE.strip()},
{VOCAB_CTE.strip()},
pos AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
       (SELECT unnest(generate_series(1, 8)) AS i)
  WHERE i <= len(ws) AND ws[i] <> ''
),
fp AS (
  SELECT p.doc_id,
         CAST(sum((v.wid % {FP_PRIME})
                  * CAST(pow({FP_BASE}, 7 - p.pos) AS BIGINT))
              % {FP_PRIME} AS BIGINT) AS fingerprint
  FROM pos p JOIN vocab v ON p.word = v.word
  GROUP BY p.doc_id
),
assigned AS (
  SELECT d.doc_id, d.lang, coalesce(f.fingerprint, 0) AS fingerprint
  FROM documents d LEFT JOIN fp f USING (doc_id)
)
SELECT doc_id, lang, fingerprint,
       CAST({bucket} AS BIGINT) AS bucket,
       CASE WHEN {bucket} < {SPLIT_TRAIN_PER_MILLE} THEN 'train'
            WHEN {bucket} < {SPLIT_VAL_PER_MILLE} THEN 'val'
            ELSE 'test' END AS split
FROM assigned
ORDER BY doc_id"""


# --- Heavy hitters: Misra-Gries sketch + exact confirm -----------------------
# text_token_counts ranks by a full-vocabulary groupBy — correct, but the
# exchange carries the entire long tail.  The heavy-hitter form answers
# "every word above frequency n/K" while shuffling only CANDIDATES:
# a per-Arrow-batch Misra-Gries sketch (capacity >> K) emits survivors,
# whose union provably contains every global heavy hitter (an item with
# global freq > n/K exceeds the local threshold in at least one batch by
# pigeonhole, and MG's undercount bound keeps it alive there); an exact
# count pass over just the candidate-matched tokens then makes the output
# deterministic — independent of partitioning — and oracle-equal to the
# brute-force SQL.  At 100 TB the wide exchange is O(batches x CAP), not
# O(|vocabulary|).

HH_K = 200        # report words with global frequency > n_tokens / HH_K
HH_CAP = 512      # MG capacity per batch (guarantee needs HH_K <= CAP + 1)


def _mg_candidates(tokens: DataFrame) -> DataFrame:
    """Distinct candidate words from per-batch Misra-Gries sketches."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            counters: dict[str, int] = {}
            for w in pdf["word"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < HH_CAP:
                    counters[w] = 1
                else:  # decrement-all step (lazy delete at zero)
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
            yield pd.DataFrame({"word": list(counters.keys())})

    return tokens.mapInPandas(gen, "word string").distinct()


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tokens_df(spark, sf_dir)
    n_total = t.select(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    cands = _mg_candidates(t)
    exact = (t.join(F.broadcast(cands), "word")
              .groupBy("word").agg(F.count(F.lit(1)).alias("n")))
    order = [F.col("n").desc(), F.col("word").asc()]
    hot = exact.filter(F.col("n") * HH_K > n_total).orderBy(*order)
    w = Window.partitionBy(F.length("word") % 1).orderBy(*order)
    return (hot.withColumn("rank", F.row_number().over(w))
               .select(F.col("rank").cast("int").alias("rank"), "word", "n")
               .orderBy("rank"))


def sql_text_heavy_hitters() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
tot AS (SELECT count(*) AS n_total FROM tokens),
counts AS (SELECT word, count(*) AS n FROM tokens GROUP BY word)
SELECT CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS INT) AS rank,
       word, n
FROM counts, tot
WHERE n * {HH_K} > tot.n_total
ORDER BY rank"""


# --- PMI collocations: statistically-bound bigrams ---------------------------
# The classic corpus-linguistics signal (Church & Hanks 1990) used in
# data curation to find boilerplate phrases and template fragments:
# pointwise mutual information log(P(xy) / (P(x)P(y))) over consecutive
# token pairs.  The log is monotone, so ranking needs only the RATIO
# c_xy * N / (c_x * c_y) — computed here as an exact integer at ppm
# scale in 128-bit arithmetic (Spark DECIMAL(38,0), DuckDB HUGEINT), so
# both engines order identically with no float in sight even at
# N ~ 10^12 tokens (int64 would overflow at c_xy * N * 10^6).
#
# Scale shape: bigrams come from a per-document transform (no
# self-join on token position); both count aggregates are map-side
# combined; the two unigram joins key on a vocabulary-bounded frame.
# The min-count floor drops the hapax tail BEFORE the joins, so the
# exchanged frame is the (tiny) candidate set, not the corpus.

PMI_MIN_COUNT = 5      # bigram support floor
PMI_TOP_K = 100        # result size
PMI_SCALE = 1_000_000  # ppm ratio scale


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K bigram collocations by exact integer-scaled PMI ratio
    ``c_xy * N * 10^6 div (c_x * c_y)`` (128-bit exact), support floor
    PMI_MIN_COUNT, ties broken on (w1, w2)."""
    d = domain.load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    bg = (d.withColumn("toks", toks)
           .select(F.explode(F.expr(
               "CASE WHEN size(toks) >= 2 THEN "
               "  transform(sequence(0, size(toks) - 2), "
               "            i -> named_struct('w1', toks[i], 'w2', toks[i + 1])) "
               "ELSE array() END")).alias("b"))
           .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")))
    uni = (d.withColumn("toks", toks)
            .select(F.explode("toks").alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    n_total = uni.agg(F.sum("c").alias("n_total"))
    cand = (bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
              .filter(F.col("c_xy") >= PMI_MIN_COUNT))
    dec = "decimal(38,0)"
    scored = (cand
              .join(uni.select(F.col("word").alias("w1"),
                               F.col("c").alias("c_x")), "w1")
              .join(uni.select(F.col("word").alias("w2"),
                               F.col("c").alias("c_y")), "w2")
              .crossJoin(F.broadcast(n_total))
              .select("w1", "w2", "c_xy", "c_x", "c_y",
                      F.expr(f"CAST((CAST(c_xy AS {dec}) * n_total "
                             f"* {PMI_SCALE}) div (CAST(c_x AS {dec}) "
                             f"* c_y) AS BIGINT)").alias("pmi_ppm")))
    return (scored.orderBy(F.desc("pmi_ppm"), "w1", "w2")
                  .limit(PMI_TOP_K))


def sql_text_collocations() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM toks, unnest(range(1, len(ws))) AS r(i)
  WHERE len(ws) >= 2
),
uni AS (
  SELECT word, count(*) AS c
  FROM (SELECT unnest(ws) AS word FROM toks) GROUP BY word
),
tot AS (SELECT sum(c) AS n_total FROM uni),
cand AS (
  SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY w1, w2
  HAVING count(*) >= {PMI_MIN_COUNT}
)
SELECT c.w1, c.w2, c.c_xy, u1.c AS c_x, u2.c AS c_y,
       CAST(CAST(c.c_xy AS HUGEINT) * tot.n_total * {PMI_SCALE}
            // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS pmi_ppm
FROM cand c
JOIN uni u1 ON c.w1 = u1.word
JOIN uni u2 ON c.w2 = u2.word
CROSS JOIN tot
ORDER BY pmi_ppm DESC, c.w1, c.w2
LIMIT {PMI_TOP_K}"""


# --- Chi-squared contingency: lang x source independence -------------------
# The feature-selection statistic (chi2 between a document label and its
# provenance — the standard check that a corpus split is not confounded
# by source).  Per-cell contribution (O*n - r*c)^2 / (r*c*n), held exact
# as an integer at ppm scale in 128-bit arithmetic: O, r, c, n are
# counts, so the numerator fits HUGEINT / DECIMAL(38,0) up to corpus
# sizes far beyond 10^12 docs, and both engines floor-divide
# identically — no float chi2 anywhere.
#
# Scale shape: one map-side-combined (lang, source) count; marginals are
# re-aggregations of that bounded frame (|langs| x |sources| rows).

def q_text_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source): observed count, expected count (ppm), and the
    ppm-scaled chi-squared contribution, all integer-exact."""
    d = domain.load_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rmarg = cell.groupBy("lang").agg(F.sum("o").alias("r"))
    cmarg = cell.groupBy("source").agg(F.sum("o").alias("c"))
    tot = cell.agg(F.sum("o").alias("n"))
    dec = "decimal(38,0)"
    return (cell.join(F.broadcast(rmarg), "lang")
                .join(F.broadcast(cmarg), "source")
                .crossJoin(F.broadcast(tot))
                .select(
                    "lang", "source", "o",
                    F.expr(f"CAST((CAST(r AS {dec}) * c * 1000000) div n "
                           "AS BIGINT)").alias("expected_ppm"),
                    F.expr(
                        f"CAST(((CAST(o AS {dec}) * n - CAST(r AS {dec}) * c) "
                        f"* (CAST(o AS {dec}) * n - CAST(r AS {dec}) * c) "
                        f"* 1000000) div (CAST(r AS {dec}) * c * n) "
                        "AS BIGINT)").alias("chi2_ppm"))
                .orderBy("lang", "source"))


def sql_text_chi2_lang_source() -> str:
    return """
WITH cell AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
),
rmarg AS (SELECT lang, sum(o) AS r FROM cell GROUP BY lang),
cmarg AS (SELECT source, sum(o) AS c FROM cell GROUP BY source),
tot AS (SELECT sum(o) AS n FROM cell)
SELECT cell.lang, cell.source, cell.o,
       CAST(CAST(r AS HUGEINT) * c * 1000000 // n AS BIGINT)
         AS expected_ppm,
       CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
            * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
            * 1000000
            // (CAST(r AS HUGEINT) * c * n) AS BIGINT) AS chi2_ppm
FROM cell
JOIN rmarg USING (lang)
JOIN cmarg USING (source)
CROSS JOIN tot
ORDER BY cell.lang, cell.source"""


# --- Equi-depth document-length histogram ------------------------------------
# The corpus profiling histogram (length-distribution sanity check before
# filtering): 10 equal-population buckets over n_chars, deterministic as
# ntile over the TOTAL order (n_chars, doc_id) — both engines define
# ntile identically (first buckets take the remainder).
#
# Scale shape: Spark does NOT run a global ntile window (that is a
# single-partition sort).  The global rank is reconstructed with the
# vocab_df device — rows are banded by n_chars // 64 (zero-padded string
# so lexical band order is a prefix of the total order), ranked within
# band by a distributed partitioned window, and offset by the running sum
# of the tiny band-count table; ntile's bucket is then pure integer
# arithmetic on (rank, total).  The DuckDB oracle keeps the plain global
# ntile because the assignment is mathematically identical.

def q_text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 equi-depth buckets over n_chars: count, min, max per bucket."""
    d = (domain.load_table(spark, sf_dir, "documents")
               .select("doc_id", "n_chars")
               .withColumn("bkt", F.lpad(F.expr("n_chars div 64")
                                          .cast("string"), 10, "0")))
    in_band = Window.partitionBy("bkt").orderBy("n_chars", "doc_id")
    ranked = d.withColumn("r_in", F.row_number().over(in_band))
    counts = d.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    # running offset over the band-count table (bounded: one row per 64-char
    # length band, O(max doc length / 64) regardless of corpus size) — the
    # same constant-key device as vocab_df, same boundedness argument
    off_w = (Window.partitionBy(F.length("bkt") % 1).orderBy("bkt")
                   .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (counts.withColumn("off", F.coalesce(F.sum("n").over(off_w),
                                                   F.lit(0)))
                     .withColumn("total", F.sum("n").over(
                         Window.partitionBy(F.length("bkt") % 1)))
                     .select("bkt", "off", "total"))
    # ntile(10) from (global rank, total) in exact BIGINT arithmetic:
    # q = total div 10, rem = total % 10; the first rem buckets take q+1
    # rows, the rest q.  `div` keeps everything integral (no double
    # rounding at any corpus size).
    bucket = F.expr("""
        CASE WHEN off + r_in <= (total % 10) * (total div 10 + 1)
             THEN (off + r_in - 1) div (total div 10 + 1) + 1
             ELSE total % 10
                  + (off + r_in - (total % 10) * (total div 10 + 1) - 1)
                    div greatest(total div 10, 1L) + 1
        END""")
    return (ranked.join(F.broadcast(offsets), "bkt")
                  .select("doc_id", "n_chars",
                          bucket.cast("int").alias("bucket"))
                  .groupBy("bucket")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.min("n_chars").alias("min_chars"),
                       F.max("n_chars").alias("max_chars"))
                  .orderBy("bucket"))


def sql_text_length_histogram() -> str:
    return """
WITH b AS (
  SELECT doc_id, n_chars,
         ntile(10) OVER (ORDER BY n_chars, doc_id) AS bucket
  FROM documents
)
SELECT bucket, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM b GROUP BY bucket ORDER BY bucket"""


# --- Inverted-index keyword search (conjunctive + phrase) --------------------
# The retrieval primitives of a corpus-exploration service: conjunctive
# (AND) term search as conditional aggregation over the token stream, and
# exact phrase search as position-aware array matching — both pure
# integer counts.
#
# Scale shape (AND): tokens are filtered to the (constant, tiny) query
# term set BEFORE the per-doc aggregation shuffle, so the exchange
# carries only matching postings — the posting-list-intersection cost
# model of a real inverted index, without materializing one.  Phrase
# matching never shuffles at all until the final per-doc result: the
# window check is a per-document array scan (no position self-join).

SEARCH_TERMS = ["merge", "filter", "sort"]
SEARCH_PHRASE = ["slow", "hash", "batch"]


def q_text_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing ALL of SEARCH_TERMS, with per-term frequencies."""
    d = domain.load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    posting = (d.withColumn("toks", toks)
                .select("doc_id", F.explode("toks").alias("word"))
                .filter(F.col("word").isin(SEARCH_TERMS)))
    aggs = [F.sum(F.when(F.col("word") == t, 1).otherwise(0))
             .alias(f"tf_{t}") for t in SEARCH_TERMS]
    res = posting.groupBy("doc_id").agg(*aggs)
    cond = None
    for t in SEARCH_TERMS:
        c = F.col(f"tf_{t}") > 0
        cond = c if cond is None else (cond & c)
    return res.filter(cond).orderBy("doc_id")


def sql_text_search_and() -> str:
    tf = ", ".join(
        f"CAST(sum(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{t}"
        for t in SEARCH_TERMS)
    having = " AND ".join(
        f"sum(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) > 0"
        for t in SEARCH_TERMS)
    inlist = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    return f"""
WITH posting AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS word
  FROM documents
)
SELECT doc_id, {tf}
FROM posting WHERE word IN ({inlist})
GROUP BY doc_id HAVING {having}
ORDER BY doc_id"""


def q_text_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing the exact consecutive phrase SEARCH_PHRASE:
    occurrence count + 0-based first token position, via a per-document
    array scan (no position self-join)."""
    d = domain.load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    n = len(SEARCH_PHRASE)
    match = " AND ".join(
        f"toks[i + {j}] = '{w}'" for j, w in enumerate(SEARCH_PHRASE))
    hits = (f"CASE WHEN size(toks) >= {n} THEN "
            f"filter(sequence(0, size(toks) - {n}), i -> {match}) "
            f"ELSE array() END")
    return (d.withColumn("toks", toks)
             .select("doc_id", F.expr(hits).alias("hits"))
             .filter(F.size("hits") > 0)
             .select("doc_id",
                     F.size("hits").alias("n_hits"),
                     F.expr("hits[0]").alias("first_pos"))
             .orderBy("doc_id"))


def sql_text_search_phrase() -> str:
    n = len(SEARCH_PHRASE)
    # DuckDB lists are 1-based; emit 0-based positions to match Spark
    match = " AND ".join(
        f"ws[i + {j}] = '{w}'" for j, w in enumerate(SEARCH_PHRASE))
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
hits AS (
  SELECT doc_id,
         list_filter(range(1, len(ws) - {n} + 2), i -> {match}) AS hs
  FROM toks WHERE len(ws) >= {n}
)
SELECT doc_id, CAST(len(hs) AS INT) AS n_hits,
       CAST(hs[1] - 1 AS INT) AS first_pos
FROM hits WHERE len(hs) > 0
ORDER BY doc_id"""


# --- BM25 ranked retrieval ---------------------------------------------------
# Okapi BM25 (Robertson et al., TREC-3) over the same single-space token
# stream as the boolean/phrase search operators: score(d) =
# sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)) with the
# Lucene-style non-negative idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
# This fills the ranked-retrieval gap between q_text_search_and (boolean)
# and the ANN family (dense): the sparse leg of a hybrid search stack.

BM25_TERMS = ["merge", "filter", "sort"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _bm25_tokens(spark: SparkSession, sf_dir: str,
                 terms: list[str]) -> DataFrame:
    """(doc_id, dl, qw): doc length + the doc's tokens among ``terms``."""
    d = docs_df(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    return d.select("doc_id", F.size(toks).alias("dl"),
                    F.filter(toks, lambda x: x.isin(terms)).alias("qw"))


@domain.checkpointed("bm25_topk_base_frame", scope="invocation")
def _bm25_topk_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_tokens(spark, sf_dir, BM25_TERMS)


@domain.checkpointed("bm25_base_frame", scope="invocation")
def _bm25_multi_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_tokens(spark, sf_dir, BM25_ALL_TERMS)


def _bm25_stats(base: DataFrame) -> tuple[int, float]:
    """(N docs, avgdl) — bounded driver scalars read from the checkpointed
    base, so one tokenize pass serves BOTH the corpus stats and the
    posting list.  avgdl is the exact IEEE quotient of two BIGINTs; the
    oracle inlines the identical literal.

    r13 (guide §2, VERDICT r12 item 6): the BM25 queries split every
    document TWICE per invocation — once in a corpus-stats collect and
    again in the posting scan.  Materializing (doc_id, dl,
    query-term-filtered tokens) once per invocation (thin rows: two ints
    and a <=|terms|-element array — the text column never crosses the
    checkpoint) halves the corpus tokenize work; stats and posting both
    read the checkpoint.  Values are unchanged: dl/n_docs/avgdl are the
    same integers, and exploding the pre-filtered array yields exactly the
    post-explode-filtered token stream."""
    row = base.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("n_tokens")).collect()[0]
    return int(row["n_docs"]), int(row["n_tokens"]) / int(row["n_docs"])


def q_text_bm25_topk(spark: SparkSession, sf_dir: str,
                     k: int = BM25_TOP_K) -> DataFrame:
    """Top-k documents by BM25 for the fixed BM25_TERMS query.

    Scale shape: the posting list is cut to the query's terms at the
    explode (the filter rides the same stage as the scan — no full-corpus
    token shuffle), so the grouped state is O(matching docs x |query|).
    df(t) is a |query|-row aggregate broadcast back onto the postings; the
    final top-k is TakeOrderedAndProject (per-partition heads, then one
    driver-side merge of k rows per partition) — no global sort.  Floats:
    every input to the formula is an exact integer (tf, df, dl, N) or the
    shared avgdl literal, both engines evaluate the textually identical
    expression tree, and the score is rounded to 6 before the hash — the
    q_text_unigram_lm convention.
    """
    base = _bm25_topk_base(spark, sf_dir)
    n_docs, avgdl = _bm25_stats(base)
    posting = (base.select("doc_id", "dl", F.explode("qw").alias("word"))
                   .groupBy("doc_id", "dl", "word")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    # df(t) as a window over the posting table, NOT a re-aggregated join:
    # the corpus is scanned ONCE (the join form re-derived posting from a
    # second scan); the window's exchange carries only the term-filtered
    # posting rows
    wdf = Window.partitionBy("word")
    posting = posting.withColumn(
        "df", F.count(F.lit(1)).over(wdf).cast("bigint"))
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tfn = (F.col("tf") * F.lit(BM25_K1 + 1.0)
           / (F.col("tf")
              + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                  + F.lit(BM25_B) * F.col("dl")
                                  / F.lit(avgdl))))
    scored = (posting.groupBy("doc_id")
                     .agg(F.round(F.sum(idf * tfn), 6).alias("bm25"),
                          F.count(F.lit(1)).cast("int").alias("n_terms")))
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(k)


def sql_text_bm25_topk(k: int = BM25_TOP_K) -> str:
    inlist = ", ".join(f"'{t}'" for t in BM25_TERMS)
    # The stats CTE recomputes the two driver scalars the Spark side
    # collects; avgdl is the identical IEEE quotient of the same BIGINTs,
    # and every other literal is inlined with full repr so both engines
    # evaluate the same doubles in the same association order.
    return f"""
WITH lens AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM lens
),
posting AS (
  SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
    FROM documents
  )
  WHERE word IN ({inlist})
  GROUP BY doc_id, dl, word
),
dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
          FROM posting GROUP BY word)
SELECT p.doc_id,
       round(sum(
         ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
         * (p.tf * {BM25_K1 + 1.0!r}
            / (p.tf + {BM25_K1!r} * ({1.0 - BM25_B!r}
                                     + {BM25_B!r} * p.dl / s.avgdl)))
       ), 6) AS bm25,
       CAST(count(*) AS INT) AS n_terms
FROM posting p JOIN dfreq f USING (word) CROSS JOIN stats s
GROUP BY p.doc_id
ORDER BY bm25 DESC, p.doc_id
LIMIT {k}"""


# --- BPE merge-rule training -------------------------------------------------
# Byte-pair-encoding tokenizer training (Sennrich, Haddow & Birch, ACL
# 2016): start from character sequences (+ end-of-word marker), repeatedly
# merge the globally most frequent adjacent symbol pair.  The output is
# the ordered merge table — the artifact a tokenizer ships.
#
# Distributed shape: the corpus is touched ONCE (the word-count groupBy);
# every round after that runs at VOCABULARY grain — adjacent-pair
# counting over distinct words weighted by their counts (map-side
# combined; output bounded by |vocab| * max word length), then a 1-row
# TakeOrdered argmax collected to the driver (a bounded scalar per round,
# the KMeans-centroid convention).  Merges apply as string literals in a
# projection — no joins, no growth in plan width.
#
# Cross-engine exactness: the symbol-sequence state is a double-space-
# joined string ("  a  b  c  _  ").  Applying a merge = replace(state,
# " a  b ", " ab ") — one boundary space from each side rides the
# pattern, so back-to-back occurrences still match and both engines'
# replace() (leftmost, non-overlapping, replace-all) reproduce the exact
# BPE greedy semantics.  Ties break by (count DESC, left ASC, right ASC).

BPE_MERGES = 6
BPE_EOW = "_"           # end-of-word marker symbol


def _bpe_state0_col():
    """word -> initial state string '  c1  c2  ...  _  ' (Column expr)."""
    return F.concat(F.lit("  "),
                    F.regexp_replace(F.col("word"), "(.)", "$1  "),
                    F.lit(BPE_EOW), F.lit("  "))


def _bpe_syms(col):
    return F.filter(F.split(col, "  "), lambda x: x != F.lit(""))


def _bpe_train_states(spark: SparkSession, sf_dir: str,
                      n_merges: int = BPE_MERGES):
    """Run the training loop; return (merge list, final per-word states).

    The states DataFrame is (word, state, n) — the trained tokenizer's
    segmentation of every distinct corpus word, reused by the encode pass.
    """
    t = tokens_df(spark, sf_dir)
    # cache the vocabulary-grain seed: without it every round's action
    # replays the CORPUS scan + groupBy through the growing replace
    # lineage (6 corpus passes instead of 1 at sf1)
    wc = (t.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
           .select("word", _bpe_state0_col().alias("state"), "n")
           .cache())
    merges = []
    state = F.col("state")
    for step in range(1, n_merges + 1):
        syms = _bpe_syms(state)
        # guard fully-merged words: Spark's sequence(1, 0) runs DESCENDING
        # ([1, 0]), so a 1-symbol word would index element_at(syms, 0)
        pairs = F.expr(
            "CASE WHEN size(syms) > 1 THEN "
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(element_at(syms, i) AS l, "
            "element_at(syms, i + 1) AS r)) "
            "ELSE CAST(array() AS array<struct<l: string, r: string>>) END")
        best = (wc.select(F.col("n"), syms.alias("syms"))
                  .select("n", F.explode(pairs).alias("p"))
                  .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                  .agg(F.sum("n").alias("c"))
                  .orderBy(F.col("c").desc(), "l", "r")
                  .limit(1)
                  .collect())[0]
        merges.append((step, best["l"], best["r"],
                       best["l"] + best["r"], int(best["c"])))
        state = F.replace(
            state,
            F.lit(f" {best['l']}  {best['r']} "),
            F.lit(f" {best['l'] + best['r']} "))
        wc = wc.select("word", state.alias("state"), "n")
        state = F.col("state")
    return merges, wc


def q_bpe_train(spark: SparkSession, sf_dir: str,
                n_merges: int = BPE_MERGES) -> DataFrame:
    """The first n_merges BPE merges over the corpus: (step, lhs, rhs,
    merged, pair_count)."""
    merges, _ = _bpe_train_states(spark, sf_dir, n_merges)
    return domain.local_frame(
        spark, merges, "step int, lhs string, rhs string, merged string, "
                       "pair_count bigint").orderBy("step")


def q_bpe_encode(spark: SparkSession, sf_dir: str,
                 n_merges: int = BPE_MERGES) -> DataFrame:
    """Apply the trained tokenizer corpus-wide: per-document BPE token
    count, chars-per-token in exact ppm.

    Scale shape: encoding happens ONCE PER DISTINCT WORD (the trained
    per-word segmentations are a vocabulary-grain table broadcast onto the
    token stream) — the corpus pass is a broadcast join + one map-side-
    combined per-doc aggregation, never a per-token Python call.  This is
    how tokenizer application actually scales: the vocabulary is the unit
    of work, the corpus is the unit of data.
    """
    _, states = _bpe_train_states(spark, sf_dir, n_merges)
    seg = states.select(
        "word", F.size(_bpe_syms(F.col("state"))).alias("n_syms"))
    t = tokens_df(spark, sf_dir)
    return (t.join(F.broadcast(seg), "word")
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                  F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
                  F.expr("(sum(length(word) + 1) * 1000000) "
                         "div sum(n_syms)").alias("chars_per_tok_ppm"))
             .orderBy("doc_id"))


def _sql_bpe_ctes(n_merges: int = BPE_MERGES) -> str:
    """Chained-CTE training mirror: state_k -> pair counts -> argmax ->
    state_{k+1}; states carry the word for the encode pass."""
    parts = [f"""{TOKENS_CTE.strip()},
state0 AS (
  SELECT word,
         '  ' || regexp_replace(word, '(.)', '\\1  ', 'g')
         || '{BPE_EOW}' || '  ' AS state,
         count(*) AS n
  FROM tokens GROUP BY word
)"""]
    for k in range(1, n_merges + 1):
        prev = f"state{k - 1}"
        parts.append(f"""
syms{k} AS (
  SELECT list_filter(string_split(state, '  '), x -> x <> '') AS s, n
  FROM {prev}
),
pc{k} AS (
  SELECT s[i] AS l, s[i + 1] AS r, sum(n) AS c
  FROM (SELECT s, n, unnest(generate_series(1, len(s) - 1)) AS i
        FROM syms{k})
  GROUP BY s[i], s[i + 1]
),
m{k} AS (
  SELECT l, r, l || r AS merged, c
  FROM pc{k} ORDER BY c DESC, l, r LIMIT 1
),
state{k} AS (
  SELECT st.word,
         replace(st.state, ' ' || m.l || '  ' || m.r || ' ',
                 ' ' || m.merged || ' ') AS state, st.n
  FROM {prev} st CROSS JOIN m{k} m
)""")
    return "WITH " + ",".join(parts)


def sql_bpe_train(n_merges: int = BPE_MERGES) -> str:
    selects = " UNION ALL ".join(
        f"SELECT {k} AS step, l AS lhs, r AS rhs, merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1))
    return (_sql_bpe_ctes(n_merges)
            + f"\nSELECT * FROM ({selects}) ORDER BY step")


def sql_bpe_encode(n_merges: int = BPE_MERGES) -> str:
    last = f"state{n_merges}"
    return f"""{_sql_bpe_ctes(n_merges)},
seg AS (
  SELECT word,
         len(list_filter(string_split(state, '  '), x -> x <> '')) AS n_syms
  FROM {last}
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(g.n_syms) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(len(t.word) + 1) * 1000000 // sum(g.n_syms) AS BIGINT)
         AS chars_per_tok_ppm
FROM tokens t JOIN seg g USING (word)
GROUP BY t.doc_id
ORDER BY t.doc_id"""


# --- Naive Bayes language classifier (train + predict + confusion) -----------
# A trainable bag-of-words classifier over the corpus's own labels: Laplace-
# smoothed multinomial NB, P(w|lang) = (c_lw + 1)/(tok_l + V).  The
# determinism trick: log-weights are floored to INTEGER micro-nats ONCE per
# (word, lang) model cell — floor(1e6 * ln(exact rational)) — and every
# aggregation after that is exact BIGINT arithmetic, so the per-document
# score sums are order-independent and bitwise identical across engines
# (a stronger contract than the round-after-summing convention of
# unigram/TF-IDF/BM25: float noise is confined to |vocab| x |langs|
# bounded model cells, never to data-sized sums).
#
# Scale shape: the model is two aggregates (lang x word counts, lang
# totals) joined on a vocab x langs grid — vocabulary-bounded, broadcast
# back; scoring is tf-table x model broadcast join + one exact-integer
# groupBy per (doc, lang); argmax is a per-doc WindowGroupLimit.

def nb_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, score) — the exact-BIGINT NB log-posterior table
    shared by the confusion matrix and the active-learning sampler."""
    d = docs_df(spark, sf_dir)
    t = tokens_df(spark, sf_dir)
    vsize = t.select("word").distinct().count()     # bounded driver scalar
    langs = (d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs_l")))
    total_docs = d.count()
    tok_l = (t.join(d.select("doc_id", "lang"), "doc_id")
              .groupBy("lang").agg(F.count(F.lit(1)).alias("tok_l")))
    c_lw = (t.join(d.select("doc_id", "lang"), "doc_id")
             .groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c")))
    vocab = t.select("word").distinct()
    grid = vocab.crossJoin(F.broadcast(
        langs.join(tok_l, "lang").select("lang", "tok_l")))
    model = (grid.join(c_lw, ["lang", "word"], "left")
                 .select("lang", "word",
                         F.floor(F.lit(1e6) * F.log(
                             (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                             / (F.col("tok_l") + F.lit(float(vsize)))))
                          .cast("bigint").alias("w_int")))
    prior = langs.select(
        "lang",
        F.floor(F.lit(1e6) * F.log(F.col("n_docs_l")
                                   / F.lit(float(total_docs))))
         .cast("bigint").alias("prior_int"))
    tf = t.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    return (tf.join(F.broadcast(model), "word")
              .groupBy("doc_id", "lang")
              .agg(F.sum(F.col("tf") * F.col("w_int")).alias("ll"))
              .join(F.broadcast(prior), "lang")
              .select("doc_id", "lang",
                      (F.col("ll") + F.col("prior_int")).alias("score")))


def q_text_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-sample NB lang prediction confusion matrix:
    (lang_actual, lang_pred, n_docs)."""
    d = docs_df(spark, sf_dir)
    scores = nb_doc_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang"))
    pred = (scores.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("doc_id", F.col("lang").alias("lang_pred")))
    return (d.select("doc_id", F.col("lang").alias("lang_actual"))
             .join(pred, "doc_id")
             .groupBy("lang_actual", "lang_pred")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
             .orderBy("lang_actual", "lang_pred"))


def sql_text_nb_confusion() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
labeled AS (
  SELECT t.doc_id, t.word, d.lang
  FROM tokens t JOIN documents d USING (doc_id)
),
vstat AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM tokens),
dstat AS (SELECT CAST(count(*) AS DOUBLE) AS total_docs FROM documents),
langs AS (SELECT lang, count(*) AS n_docs_l FROM documents GROUP BY lang),
tokl AS (SELECT lang, count(*) AS tok_l FROM labeled GROUP BY lang),
clw AS (SELECT lang, word, count(*) AS c FROM labeled GROUP BY lang, word),
vocab AS (SELECT DISTINCT word FROM tokens),
model AS (
  SELECT g.lang, g.word,
         CAST(floor(1000000.0 * ln((coalesce(c.c, 0) + 1.0)
                                   / (g.tok_l + s.v))) AS BIGINT) AS w_int
  FROM (SELECT v.word, l.lang, tl.tok_l
        FROM vocab v CROSS JOIN langs l JOIN tokl tl ON l.lang = tl.lang) g
  LEFT JOIN clw c ON c.lang = g.lang AND c.word = g.word
  CROSS JOIN vstat s
),
prior AS (
  SELECT l.lang,
         CAST(floor(1000000.0 * ln(l.n_docs_l / d.total_docs)) AS BIGINT)
           AS prior_int
  FROM langs l CROSS JOIN dstat d
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tokens GROUP BY doc_id, word),
scores AS (
  SELECT t.doc_id, m.lang, sum(t.tf * m.w_int) + any_value(p.prior_int)
           AS score
  FROM tf t JOIN model m USING (word) JOIN prior p ON p.lang = m.lang
  GROUP BY t.doc_id, m.lang
),
pred AS (
  SELECT doc_id, lang AS lang_pred
  FROM (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rn
        FROM scores)
  WHERE rn = 1
)
SELECT d.lang AS lang_actual, p.lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN pred p USING (doc_id)
GROUP BY d.lang, p.lang_pred
ORDER BY lang_actual, lang_pred"""


# --- Bigram language model (Laplace-smoothed conditional bits) ---------------
# The bigram upgrade of q_text_unigram_lm: score each document by the mean
# -log2 P(w2 | w1) under the corpus's own Laplace-smoothed bigram model,
# P(w2|w1) = (c12 + 1) / (c1 + V).  Uses the NB-classifier determinism
# convention: bits floor to integer MICRO-BITS once per model cell (bounded
# |bigram vocab| float sites), then every per-document aggregate is exact
# BIGINT — order-independent across engines.
#
# Scale shape: the bigram model is a (w1, w2)-grain aggregate (bounded by
# observed bigram vocabulary, far smaller than the corpus) broadcast onto
# the per-doc bigram stream; two map-side-combined shuffles total.

def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    pairs = F.expr(
        "CASE WHEN size(toks) > 1 THEN "
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, i) AS w1, "
        "element_at(toks, i + 1) AS w2)) "
        "ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END")
    return (d.select("doc_id", toks.alias("toks"))
             .select("doc_id", F.explode(pairs).alias("p"))
             .select("doc_id", F.col("p.w1").alias("w1"),
                     F.col("p.w2").alias("w2")))


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = tokens_df(spark, sf_dir)
    vsize = t.select("word").distinct().count()     # bounded driver scalar
    bg = _doc_bigrams(spark, sf_dir)
    c1 = t.groupBy(F.col("word").alias("w1")).agg(
        F.count(F.lit(1)).alias("c1"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    model = (c12.join(F.broadcast(c1), "w1")
                .select("w1", "w2",
                        F.floor(F.lit(-1e6) * F.log2(
                            (F.col("c12") + F.lit(1.0))
                            / (F.col("c1") + F.lit(float(vsize)))))
                         .cast("bigint").alias("bits_micro")))
    return (bg.join(F.broadcast(model), ["w1", "w2"])
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                   F.sum("bits_micro").alias("bits_sum_micro"))
              .select("doc_id", "n_bigrams", "bits_sum_micro",
                      F.expr("bits_sum_micro div n_bigrams")
                       .alias("bits_per_bigram_micro"))
              .orderBy("doc_id"))


def sql_text_bigram_lm() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
vstat AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM tokens),
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM toks WHERE len(ws) > 1)
),
c1 AS (SELECT word AS w1, count(*) AS c1 FROM tokens GROUP BY word),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
model AS (
  SELECT m.w1, m.w2,
         CAST(floor(-1000000.0 * log2((m.c12 + 1.0) / (u.c1 + s.v)))
              AS BIGINT) AS bits_micro
  FROM c12 m JOIN c1 u USING (w1) CROSS JOIN vstat s
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(m.bits_micro) AS BIGINT) AS bits_sum_micro,
       CAST(sum(m.bits_micro) // count(*) AS BIGINT)
         AS bits_per_bigram_micro
FROM bg b JOIN model m USING (w1, w2)
GROUP BY b.doc_id
ORDER BY b.doc_id"""


# --- Class-based TF-IDF: distinctive terms per source ------------------------
# BERTopic-style c-TF-IDF: score(w, class) = tf_{w,class} * idf_w with
# idf_w = ln(1 + N_docs / df_w) — surfaces each source's characteristic
# vocabulary.  Integer determinism convention: idf floors once per word
# to micro-nats; scores are then exact BIGINT products ranked per class
# by WindowGroupLimit.

CTFIDF_TOP_K = 5


def q_text_ctfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    t = tokens_df(spark, sf_dir)
    n_docs = d.count()                                 # bounded scalar
    df_w = (t.select("doc_id", "word").distinct()
             .groupBy("word").agg(F.count(F.lit(1)).alias("df")))
    idf = df_w.select(
        "word",
        F.floor(F.lit(1e6) * F.log(F.lit(1.0)
                                   + F.lit(float(n_docs)) / F.col("df")))
         .cast("bigint").alias("idf_micro"))
    tf_sc = (t.join(d.select("doc_id", "source"), "doc_id")
              .groupBy("source", "word").agg(F.count(F.lit(1)).alias("tf")))
    scored = (tf_sc.join(F.broadcast(idf), "word")
                   .select("source", "word",
                           (F.col("tf") * F.col("idf_micro"))
                            .alias("score_micro")))
    w = Window.partitionBy("source").orderBy(
        F.col("score_micro").desc(), F.col("word"))
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= CTFIDF_TOP_K)
                  .select("source", F.col("rnk").cast("int").alias("rnk"),
                          "word", "score_micro")
                  .orderBy("source", "rnk"))


def sql_text_ctfidf_topk() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
nstat AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
dfw AS (
  SELECT word, count(*) AS df
  FROM (SELECT DISTINCT doc_id, word FROM tokens) GROUP BY word
),
idf AS (
  SELECT word, CAST(floor(1000000.0 * ln(1.0 + s.n_docs / df)) AS BIGINT)
           AS idf_micro
  FROM dfw CROSS JOIN nstat s
),
tfsc AS (
  SELECT d.source, t.word, count(*) AS tf
  FROM tokens t JOIN documents d USING (doc_id)
  GROUP BY d.source, t.word
)
SELECT source, CAST(rnk AS INT) AS rnk, word, score_micro
FROM (
  SELECT f.source, f.word, f.tf * i.idf_micro AS score_micro,
         row_number() OVER (PARTITION BY f.source
                            ORDER BY f.tf * i.idf_micro DESC, f.word) AS rnk
  FROM tfsc f JOIN idf i USING (word)
)
WHERE rnk <= {CTFIDF_TOP_K}
ORDER BY source, rnk"""


# --- BM25 multi-query batch (the search-service shape) -----------------------
# q_text_bm25_topk serves ONE query; the production shape scores a BATCH
# of queries in a single pass: the query set is a tiny (query_id, word)
# dim broadcast onto the postings, so the corpus is scanned once for ALL
# queries and the per-query top-k is a WindowGroupLimit — cost
# O(corpus + queries x k), not O(queries x corpus).

BM25_QUERIES = {
    0: ["merge", "filter", "sort"],
    1: ["hash", "row", "batch"],
    2: ["scan", "column", "join"],
}
BM25_ALL_TERMS = sorted({t for ts in BM25_QUERIES.values() for t in ts})
BM25_MULTI_TOP_K = 10


def q_text_bm25_multi(spark: SparkSession, sf_dir: str,
                      k: int = BM25_MULTI_TOP_K) -> DataFrame:
    base = _bm25_multi_base(spark, sf_dir)
    n_docs, avgdl = _bm25_stats(base)
    qrows = [(qid, t) for qid, ts in sorted(BM25_QUERIES.items())
             for t in ts]
    qdim = domain.local_frame(spark, qrows, "query_id int, word string")
    posting = (base.select("doc_id", "dl", F.explode("qw").alias("word"))
                   .groupBy("doc_id", "dl", "word")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    wdf = Window.partitionBy("word")
    posting = posting.withColumn(
        "df", F.count(F.lit(1)).over(wdf).cast("bigint"))
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tfn = (F.col("tf") * F.lit(BM25_K1 + 1.0)
           / (F.col("tf")
              + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                  + F.lit(BM25_B) * F.col("dl")
                                  / F.lit(avgdl))))
    scored = (posting.join(F.broadcast(qdim), "word")
                     .groupBy("query_id", "doc_id")
                     .agg(F.round(F.sum(idf * tfn), 6).alias("bm25"),
                          F.count(F.lit(1)).cast("int").alias("n_terms")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k)
                  .select("query_id", F.col("rnk").cast("int").alias("rnk"),
                          "doc_id", "bm25", "n_terms")
                  .orderBy("query_id", "rnk"))


def sql_text_bm25_multi(k: int = BM25_MULTI_TOP_K) -> str:
    inlist = ", ".join(f"'{t}'" for t in BM25_ALL_TERMS)
    qvals = ", ".join(f"({qid}, '{t}')"
                      for qid, ts in sorted(BM25_QUERIES.items())
                      for t in ts)
    return f"""
WITH lens AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM lens
),
qdim(query_id, word) AS (VALUES {qvals}),
posting AS (
  SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
    FROM documents
  )
  WHERE word IN ({inlist})
  GROUP BY doc_id, dl, word
),
dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
          FROM posting GROUP BY word),
scored AS (
  SELECT q.query_id, p.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * {BM25_K1 + 1.0!r}
              / (p.tf + {BM25_K1!r} * ({1.0 - BM25_B!r}
                                       + {BM25_B!r} * p.dl / s.avgdl)))
         ), 6) AS bm25,
         CAST(count(*) AS INT) AS n_terms
  FROM posting p JOIN dfreq f USING (word) JOIN qdim q USING (word)
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
)
SELECT query_id, CAST(rnk AS INT) AS rnk, doc_id, bm25, n_terms
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY bm25 DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= {k}
ORDER BY query_id, rnk"""


# --- Quality-aware data mixing (curriculum x DoReMi) -------------------------
# q_sample_mixture plans PER-DOMAIN token budgets; this operator spends
# each budget QUALITY-FIRST: documents band by their unigram-LM
# bits/token (band 2 = fluent, 1 = mid, 0 = surprising tail), and each
# domain's take fills greedily from the best band down, with the marginal
# band realized by an exact per-mille keep rate.
#
# Scale shape: banding rides the (already two-shuffle) LM scoring pass;
# the allocation itself runs on the |domains| x |bands| AGGREGATE (9
# rows) — the greedy "sort" is a window over <= |bands| rows per domain,
# NOT a per-domain sort of the corpus, which would serialize a 100 TB
# domain through one task.  All arithmetic int64.

MIX_BAND_EDGES = (4.90, 5.00)   # bits/token: <= e0 -> band 2, <= e1 -> 1


def q_sample_mixture_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = q_text_unigram_lm(spark, sf_dir)
    d = docs_df(spark, sf_dir).select(
        "doc_id", _mix_domain_col().alias("domain"))
    band = (F.when(F.col("bits_per_token") <= MIX_BAND_EDGES[0], 2)
             .when(F.col("bits_per_token") <= MIX_BAND_EDGES[1], 1)
             .otherwise(0).cast("int"))
    docs = (lm.join(d, "doc_id")
              .select("domain", band.alias("band"),
                      F.col("n_tokens").cast("bigint").alias("n_tokens")))
    inv_db = docs.groupBy("domain", "band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_avail"))
    w = F.when(F.col("domain") == "web", MIX_TARGETS[0][1]) \
         .when(F.col("domain") == "books", MIX_TARGETS[1][1]) \
         .otherwise(MIX_TARGETS[2][1]).cast("bigint")
    inv_d = (inv_db.groupBy("domain").agg(F.sum("tok_avail").alias("tok"))
                   .withColumn("w", w)
                   .withColumn("cap", F.expr("(tok * 1000) div w")))
    budget = inv_d.agg(F.min("cap").alias("B"))
    takes = (inv_d.crossJoin(F.broadcast(budget))
                  .withColumn("take_d", F.expr("(w * B) div 1000"))
                  .select("domain", "take_d"))
    # greedy fill best-band-first: prior = tokens available in BETTER
    # bands; this band takes min(tok_avail, max(0, take_d - prior))
    wprior = (Window.partitionBy("domain").orderBy(F.col("band").desc())
                    .rowsBetween(Window.unboundedPreceding, -1))
    alloc = (inv_db.join(F.broadcast(takes), "domain")
                   .withColumn("prior", F.coalesce(
                       F.sum("tok_avail").over(wprior), F.lit(0)))
                   .withColumn("tok_taken", F.greatest(
                       F.lit(0), F.least(F.col("tok_avail"),
                                         F.col("take_d") - F.col("prior"))))
                   .withColumn("keep_rate_pm", F.expr(
                       "(tok_taken * 1000) div tok_avail")))
    return (alloc.select("domain", "band", "n_docs", "tok_avail",
                         "tok_taken", "keep_rate_pm")
                 .orderBy("domain", F.col("band").desc()))


def sql_sample_mixture_quality() -> str:
    lm = sql_text_unigram_lm().strip()
    e0, e1 = MIX_BAND_EDGES
    tgt = " ".join(f"WHEN '{d}' THEN {w}" for d, w in MIX_TARGETS)
    return f"""
WITH lm AS ({lm}),
docs AS (
  SELECT CASE d.src_n % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'books'
              ELSE 'code' END AS domain,
         CASE WHEN l.bits_per_token <= {e0!r} THEN 2
              WHEN l.bits_per_token <= {e1!r} THEN 1 ELSE 0 END AS band,
         l.n_tokens
  FROM lm l JOIN (SELECT doc_id,
                         CAST(substring(source, 4, 10) AS INT) AS src_n
                  FROM documents) d USING (doc_id)
),
inv_db AS (
  SELECT domain, band, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tok_avail
  FROM docs GROUP BY domain, band
),
inv_d AS (
  SELECT domain, sum(tok_avail) AS tok,
         CAST(CASE domain {tgt} END AS BIGINT) AS w
  FROM inv_db GROUP BY domain
),
budget AS (SELECT min((tok * 1000) // w) AS B FROM inv_d),
takes AS (
  SELECT domain, (w * B) // 1000 AS take_d
  FROM inv_d CROSS JOIN budget
),
alloc AS (
  SELECT i.domain, i.band, i.n_docs, i.tok_avail,
         coalesce(sum(i.tok_avail) OVER (
           PARTITION BY i.domain ORDER BY i.band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior,
         t.take_d
  FROM inv_db i JOIN takes t USING (domain)
)
SELECT domain, band, n_docs, tok_avail,
       CAST(greatest(0, least(tok_avail, take_d - prior)) AS BIGINT)
         AS tok_taken,
       CAST(greatest(0, least(tok_avail, take_d - prior)) * 1000
            // tok_avail AS BIGINT) AS keep_rate_pm
FROM alloc
ORDER BY domain, band DESC"""


# --- Perplexity-based quality filtering (CCNet-style head/middle/tail) -------
# CCNet (Wenzek et al. 2020) buckets each document by its LM perplexity
# INTO PER-SOURCE TERCILES — "head" (most fluent third), "middle", "tail"
# — and pretraining pipelines keep head+middle.  Here the LM is the
# corpus's own unigram model (q_text_unigram_lm, oracle-green).
#
# Exactness (ADVICE r5): the earlier form averaged per-token double bits
# with F.avg, whose accumulation order is partition-dependent — a
# last-ulp wobble at a round(...,6) boundary could flip a tercile.  Now
# the model weight is floored ONCE per distinct word to INTEGER
# micro-bits (the text_bigram_lm / NB convention), per-doc totals are
# exact BIGINT sums (order-free), and bits_per_token_micro is a floor
# division of nonnegative integers — bit-identical in any engine.
#
# Scale shape: the LM is a vocabulary-bounded map-side-combined groupBy
# broadcast onto the token stream (two shuffles total, same budget as
# TF-IDF).  The tercile is NOT a per-source ntile window (source has
# cardinality ~20 here — that would be 20 single-task sorts); it is
# rebuilt from the banded distributed rank (rankutil.banded_rank) over
# (source, bits band), with ntile(3)'s bucket recovered by exact integer
# arithmetic on (rank, source total) — the text_length_histogram device.
# The DuckDB oracle keeps the plain ntile (mathematically identical).

def q_text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    toks = tokens_df(spark, sf_dir)
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_word"))
    total = toks.count()  # scalar: one aggregate over the token stream
    model = freq.select(
        "word",
        F.floor(F.lit(-1e6) * F.log2(
            F.col("n_word").cast("double") / F.lit(float(total))))
         .cast("bigint").alias("bits_micro"))
    scored = (toks.join(F.broadcast(model), "word")
                  .groupBy("doc_id")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                       F.sum("bits_micro").alias("bits_sum_micro"))
                  .withColumn("bits_per_token_micro",
                              F.expr("bits_sum_micro div n_tokens")))
    d = docs_df(spark, sf_dir).select("doc_id", "source")
    ranked = banded_rank(
        scored.join(d, "doc_id"), ["source"],
        band=F.expr("bits_per_token_micro div 131072"),
        order_cols=[F.col("bits_per_token_micro"), F.col("doc_id")],
        rank_name="r", total_name="n_src")
    # ntile(3) from (rank, total): q = n div 3, rem = n % 3 — the first
    # rem buckets take q+1 rows (both engines define ntile this way)
    tercile = F.expr("""
        CASE WHEN r <= (n_src % 3) * (n_src div 3 + 1)
             THEN (r - 1) div (n_src div 3 + 1) + 1
             ELSE n_src % 3
                  + (r - (n_src % 3) * (n_src div 3 + 1) - 1)
                    div greatest(n_src div 3, 1L) + 1
        END""").cast("int")
    res = ranked.withColumn("tercile", tercile)
    bucket = (F.when(F.col("tercile") == 1, "head")
               .when(F.col("tercile") == 2, "middle")
               .otherwise("tail"))
    return (res.select("doc_id", "source", "n_tokens",
                       "bits_per_token_micro",
                       bucket.alias("ppl_bucket"),
                       (F.col("tercile") <= 2).alias("keep"))
               .orderBy("doc_id"))


def sql_text_perplexity_filter() -> str:
    return f"""
WITH {TOKENS_CTE.strip()},
freq AS (SELECT word, count(*) AS n_word FROM tokens GROUP BY word),
total AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM tokens),
model AS (
  SELECT f.word,
         CAST(floor(-1000000.0 *
                    log2(CAST(f.n_word AS DOUBLE) / total.n_total))
              AS BIGINT) AS bits_micro
  FROM freq f CROSS JOIN total
),
scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(m.bits_micro) AS BIGINT) AS bits_sum_micro
  FROM tokens t JOIN model m ON t.word = m.word
  GROUP BY t.doc_id
),
bucketed AS (
  SELECT s.doc_id, d.source, s.n_tokens,
         CAST(s.bits_sum_micro // s.n_tokens AS BIGINT)
           AS bits_per_token_micro,
         ntile(3) OVER (PARTITION BY d.source
                        ORDER BY s.bits_sum_micro // s.n_tokens, s.doc_id)
           AS tercile
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT doc_id, source, n_tokens, bits_per_token_micro,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       tercile <= 2 AS keep
FROM bucketed
ORDER BY doc_id"""


# --- Active-learning batch selection (NB margin / uncertainty sampling) ------
# The labeling-budget primitive of a data-curation loop: pick the docs
# the classifier is LEAST sure about — smallest margin between best and
# second-best class log-posterior — and send exactly those for human
# labels.  Margins are differences of the NB layer's exact-BIGINT
# micro-nat scores, so selection is deterministic and oracle-exact; the
# batch is the global bottom-M by (margin, doc_id).
#
# Scale shape: scores reuse the NB broadcast-model pass; the margin is
# one per-doc window over |langs| rows; the global bottom-M is a
# TakeOrderedAndProject (no full sort materialization).

AL_BATCH = 40


def q_sample_active_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = nb_doc_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang"))
    ranked = scores.withColumn("rn", F.row_number().over(w))
    best = (ranked.filter(F.col("rn") == 1)
                  .select("doc_id", F.col("lang").alias("lang_pred"),
                          F.col("score").alias("s1")))
    second = (ranked.filter(F.col("rn") == 2)
                    .select("doc_id", F.col("score").alias("s2")))
    return (best.join(second, "doc_id")
                .select("doc_id", "lang_pred",
                        (F.col("s1") - F.col("s2")).alias("margin_micro"))
                .orderBy(F.col("margin_micro").asc(), F.col("doc_id").asc())
                .limit(AL_BATCH))


def sql_sample_active_learning() -> str:
    base = sql_text_nb_confusion()
    # reuse the NB CTE chain up to `scores`, swap the readout
    head = base[:base.index("pred AS (")]
    return f"""{head}ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rn
  FROM scores
)
SELECT b.doc_id, b.lang AS lang_pred,
       CAST(b.score - s.score AS BIGINT) AS margin_micro
FROM (SELECT * FROM ranked WHERE rn = 1) b
JOIN (SELECT * FROM ranked WHERE rn = 2) s USING (doc_id)
ORDER BY margin_micro ASC, b.doc_id ASC
LIMIT {AL_BATCH}"""


# --- Lexical-diversity profile per source (round 7) -----------------------------
# The templated-corpus detector: type-token ratio and hapax share per
# source.  Synthetic or boilerplate-heavy feeds collapse both; natural
# text keeps TTR and the hapax share high.  Two vocabulary-grain
# map-side-combined aggregates — (source, word) counts, then per-source
# rollup — all integer ppm.

def q_text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_df(spark, sf_dir)
    t = (d.select("source",
                  F.explode(F.split(F.col("text"), " ")).alias("word"))
          .filter(F.col("word") != ""))
    wc = (t.groupBy("source", "word")
           .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    docs = (d.groupBy("source")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    per = (wc.groupBy("source")
             .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                  F.count(F.lit(1)).cast("bigint").alias("n_types"),
                  F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                   .cast("bigint").alias("n_hapax")))
    return (per.join(F.broadcast(docs), "source")
               .select("source", "n_docs", "n_tokens", "n_types",
                       "n_hapax",
                       F.expr("CAST(n_types * 1000000 div n_tokens"
                              " AS BIGINT)").alias("ttr_ppm"),
                       F.expr("CAST(n_hapax * 1000000 div n_types"
                              " AS BIGINT)").alias("hapax_ppm"))
               .orderBy("source"))


def sql_text_ttr_hapax() -> str:
    return """
WITH t AS (
  SELECT source, word
  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE word <> ''
),
wc AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS c
  FROM t GROUP BY 1, 2
),
docs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
),
per AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
  FROM wc GROUP BY 1
)
SELECT p.source, d.n_docs, p.n_tokens, p.n_types, p.n_hapax,
       CAST(p.n_types * 1000000 // p.n_tokens AS BIGINT) AS ttr_ppm,
       CAST(p.n_hapax * 1000000 // p.n_types AS BIGINT) AS hapax_ppm
FROM per p JOIN docs d USING (source)
ORDER BY p.source"""


# --- Per-language character-trigram fingerprint (round 7) -----------------------
# The Cavnar-Trenkle n-gram language profile: the top-K character
# trigrams per language by frequency, with ranks — the classic
# profile-based language-ID model, trained on-engine.  The trigram
# count table is CHARSET^3-bounded (corpus-size-independent), and the
# per-language top-K rank runs via rankutil.banded_rank with
# count-magnitude (decimal-digit) bands — <= 19 bands, monotone in the
# count — so no low-cardinality language partition ever funnels the
# count table through one task.

TRIGRAM_TOP_K = 20


def q_text_char_trigram_profile(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    # fan_out: the per-CHARACTER substring explode is ~500x the scan
    # bytes in CPU; an undersplit local parquet (1-2 row groups) would
    # run it on 1-2 cores.  On a real cluster the input is already
    # split and this is a no-op (sf1 measured: 9.3s -> 1.5s).
    d = domain.fan_out(docs_df(spark, sf_dir))
    # Guard: Spark sequence(1, 0) DESCENDS to [1, 0] (it never returns
    # an empty array), so a <3-char doc would emit two bogus 1-2-char
    # "trigrams" while DuckDB's generate_series(1, 0) is empty.  Filter
    # short docs out before exploding (ADVICE r7 medium), mirrored in
    # the oracle, like the sibling window operators.
    tris = (d.filter(F.length("text") >= 3)
             .select(
        "lang",
        F.explode(F.expr(
            "transform(sequence(1, length(text) - 2),"
            " i -> substring(text, i, 3))")).alias("tri")))
    counts = (tris.groupBy("lang", "tri")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    ranked = banded_rank(
        counts, ["lang"],
        F.length(F.expr("CAST(cnt AS STRING)")),
        [F.col("cnt").desc(), F.col("tri").asc()],
        rank_name="rnk", descending_bands=True)
    return (ranked.filter(F.col("rnk") <= TRIGRAM_TOP_K)
                  .select("lang", F.col("rnk").cast("int").alias("rnk"),
                          "tri", "cnt")
                  .orderBy("lang", "rnk"))


def sql_text_char_trigram_profile() -> str:
    return f"""
WITH tris AS (
  SELECT lang, substr(text, i, 3) AS tri
  FROM (SELECT lang, text,
               unnest(generate_series(1, length(text) - 2)) AS i
        FROM documents
        WHERE length(text) >= 3)
),
counts AS (
  SELECT lang, tri, CAST(count(*) AS BIGINT) AS cnt
  FROM tris GROUP BY 1, 2
),
ranked AS (
  SELECT lang, tri, cnt,
         row_number() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, tri ASC) AS rnk
  FROM counts
)
SELECT lang, CAST(rnk AS INT) AS rnk, tri, cnt
FROM ranked
WHERE rnk <= {TRIGRAM_TOP_K}
ORDER BY lang, rnk"""


# --- Training-data chunker with chunk-level dedup (round 8) ----------------------
# The RAG/pretraining segmentation pass: fixed CHUNK_SIZE-token sliding
# windows at CHUNK_STRIDE, drop_last semantics (only full-size windows,
# except a document shorter than one window yields its single short
# chunk so no document is lost), plus the corpus-wide duplicate count
# of every chunk — the chunk-grain analog of document dedup, which is
# what a dedup-before-training pass actually strips.
#
# Natural 32-token verbatim chunk recurrence is ~vocab^-32-rare, so (the
# _rng_corpus device) a deterministic 32-token template is prepended to
# doc_id % CHK_SEED_MOD == CHK_SEED_REM docs: their first chunk is then
# IDENTICAL across ~1/5 of the corpus, making n_dup observable and
# exercising the hot-chunk aggregation path.
#
# Scale shape: the window explode is map-only (token-array slices, at
# most n_tokens/STRIDE rows per doc); the duplicate count groups on the
# 64-bit xxhash of the chunk text, not the string (the spans lesson:
# the string is CHUNK_SIZE x the corpus bytes through the exchange; a
# collision needs ~2^32 distinct chunks for even-odds and the driver's
# bit-exact gate would surface one).  The oracle keeps the literal
# string — physical, not semantic, decomposition.

CHUNK_SIZE = 32
CHUNK_STRIDE = 24
CHK_SEED_MOD = 5
CHK_SEED_REM = 1
_CHK_TEMPLATE_UNIT = "chunk boilerplate preamble tokens "
_CHK_TEMPLATE_REPS = 8  # 4 tokens x 8 = 32 template tokens


def _chunk_corpus(d: DataFrame) -> DataFrame:
    seeded = F.concat(
        F.expr(f"repeat('{_CHK_TEMPLATE_UNIT}', {_CHK_TEMPLATE_REPS})"),
        F.col("text"))
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % CHK_SEED_MOD == CHK_SEED_REM, seeded)
         .otherwise(F.col("text")).alias("text"))


def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    S, ST = CHUNK_SIZE, CHUNK_STRIDE
    d = _chunk_corpus(docs_df(spark, sf_dir))
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    toks = d.select("doc_id", ws.alias("ws"))
    starts = F.expr(
        f"sequence(1, greatest(size(ws) - {S} + 1, 1), {ST})")
    chunks = (toks.select(
        "doc_id",
        F.posexplode(F.transform(starts, lambda st: F.struct(
            st.alias("tok_start"),
            F.concat_ws(" ", F.slice("ws", st, S)).alias("ctext"),
            F.least(F.size("ws") - st + 1, F.lit(S)).cast("bigint")
             .alias("n_tokens")))).alias("idx", "c"))
        .select("doc_id",
                (F.col("idx") + 1).cast("bigint").alias("chunk_idx"),
                F.col("c.tok_start").cast("bigint").alias("tok_start"),
                F.col("c.n_tokens").alias("n_tokens"),
                F.length("c.ctext").cast("bigint").alias("n_chars"),
                F.xxhash64("c.ctext").alias("ck")))
    dups = (chunks.groupBy("ck")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup")))
    return (chunks.join(dups, "ck")
                  .select("doc_id", "chunk_idx", "tok_start", "n_tokens",
                          "n_chars", "n_dup")
                  .orderBy("doc_id", "chunk_idx"))


def sql_text_chunking() -> str:
    S, ST = CHUNK_SIZE, CHUNK_STRIDE
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {CHK_SEED_MOD} = {CHK_SEED_REM}
              THEN repeat('{_CHK_TEMPLATE_UNIT}', {_CHK_TEMPLATE_REPS})
                   || text
              ELSE text END AS text
  FROM documents
),
chunks AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st)
              AS BIGINT) AS chunk_idx,
         CAST(st AS BIGINT) AS tok_start,
         CAST(least(len(ws) - st + 1, {S}) AS BIGINT) AS n_tokens,
         array_to_string(ws[st:st + {S - 1}], ' ') AS ctext
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - {S} + 1, 1),
                                      {ST})) AS st
        FROM (SELECT doc_id, {toks} AS ws FROM corpus))
),
dups AS (
  SELECT ctext, CAST(count(*) AS BIGINT) AS n_dup
  FROM chunks GROUP BY 1
)
SELECT c.doc_id, c.chunk_idx, c.tok_start, c.n_tokens,
       CAST(length(c.ctext) AS BIGINT) AS n_chars, d.n_dup
FROM chunks c JOIN dups d USING (ctext)
ORDER BY c.doc_id, c.chunk_idx"""


# --- Vocabulary-novelty growth by ingest order (round 8) -------------------------
# The contamination/diversity readout crawl pipelines watch: bucket the
# corpus by ingest order (doc_id div NOVELTY_BUCKET docs per bucket)
# and report, per bucket, how many of its distinct token trigrams are
# NEW — first seen in that bucket.  A healthy diverse feed keeps the
# novelty share high; a crawler stuck re-fetching the same sites
# collapses it.  (Heaps'-law growth read off a real corpus.)
#
# Scale shape: one corpus pass explodes trigram HASHES (64-bit, the
# spans device — the oracle keeps strings); (bucket, gram) pairs are
# map-side-combine deduped; first-seen bucket is a gram-grain min
# aggregate; both readouts are vocabulary-grain, corpus-independent
# outputs.

NOVELTY_BUCKET = 100
NOVELTY_W = 3


def q_text_vocab_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = NOVELTY_W
    # fan_out: per-token explode CPU vastly exceeds the scan bytes (the
    # text_char_trigram_profile lesson — no-op on well-split inputs)
    d = domain.fan_out(docs_df(spark, sf_dir))
    # ONE aggregation chain instead of two branches over the exploded
    # gram stream (r12, guide §2.4/§5): the previous per_bkt/first pair
    # each re-derived the tokenize + explode + distinct subtree (two
    # corpus passes, 4 Exchanges).  collect_set(bkt) per gram hash is
    # the same map-side-combined dedup the distinct performed (bucket
    # count is bounded: |corpus| / NOVELTY_BUCKET docs per bucket, and
    # the set is per-gram distinct buckets); exploding the bounded set
    # with its min recovers BOTH readouts in one groupBy:
    #   n_distinct_grams(b) = |{g : b in set(g)}|   (the old per_bkt)
    #   n_new_grams(b)      = |{g : min(set(g)) = b}| (the old first)
    # A bucket whose every trigram was already seen in earlier buckets
    # still surfaces with n_new_grams=0 (ADVICE r8): it appears in every
    # containing gram's set regardless of being anyone's min.
    # One SQL text: a handful of py4j calls, not one per Column call
    # (ARCHITECTURE.md, "The Python boundary").
    return spark.sql(f"""
WITH toks AS (
  SELECT doc_id div {NOVELTY_BUCKET} AS bkt,
         filter(split(text, ' '), x -> x != '') AS ws
  FROM {{d}}
),
grams AS (
  SELECT bkt, explode(transform(
           CASE WHEN size(ws) >= {W} THEN sequence(1, size(ws) - {W - 1})
                ELSE CAST(array() AS ARRAY<INT>) END,
           x -> xxhash64(concat_ws(' ', slice(ws, x, {W}))))) AS gk
  FROM toks
),
exploded AS (
  SELECT array_min(bkts) AS min_bkt, explode(bkts) AS bkt
  FROM (SELECT gk, collect_set(bkt) AS bkts FROM grams GROUP BY gk)
)
SELECT CAST(bkt AS BIGINT) AS bucket, n_distinct_grams, n_new_grams,
       CAST(n_new_grams * 1000000 div n_distinct_grams AS BIGINT)
         AS novelty_ppm
FROM (SELECT bkt, CAST(count(1) AS BIGINT) AS n_distinct_grams,
             CAST(sum(CASE WHEN bkt = min_bkt THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new_grams
      FROM exploded GROUP BY bkt)
ORDER BY bucket""", d=d)


def sql_text_vocab_novelty() -> str:
    W = NOVELTY_W
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH grams AS (
  SELECT DISTINCT bkt, gram
  FROM (SELECT doc_id // {NOVELTY_BUCKET} AS bkt,
               array_to_string(ws[i:i + {W - 1}], ' ') AS gram
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws) - {W - 1})) AS i
              FROM (SELECT doc_id, {toks} AS ws FROM documents)
              WHERE len(ws) >= {W}))
),
per_bkt AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS n_distinct_grams
  FROM grams GROUP BY 1
),
first AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS n_new_grams
  FROM (SELECT gram, min(bkt) AS bkt FROM grams GROUP BY 1)
  GROUP BY 1
)
SELECT CAST(p.bkt AS BIGINT) AS bucket, p.n_distinct_grams,
       CAST(COALESCE(f.n_new_grams, 0) AS BIGINT) AS n_new_grams,
       CAST(COALESCE(f.n_new_grams, 0) * 1000000 // p.n_distinct_grams
            AS BIGINT) AS novelty_ppm
FROM per_bkt p LEFT JOIN first f USING (bkt)
ORDER BY bucket"""


# --- Tokenizer / vocabulary coverage per source (round 9) ------------------------
# The OOV readout tokenizer teams watch per ingest source: with the
# production vocabulary pinned to the top-OOV_VOCAB_K tokens by global
# frequency (count DESC, token ASC — fully deterministic), report per
# source how much of its token MASS and how much of its DISTINCT
# vocabulary falls outside — a source whose oov_ppm spikes is feeding
# text the tokenizer fragments into bytes.
#
# Scale shape: corpus pass -> (source, token) keyed counts (map-side
# combine; output is vocabulary-grain x |sources|); the global top-K
# rank rides banded_rank over log2(count) bands on the VOCABULARY-grain
# count table (never the corpus), and the K-row vocab comes back as a
# broadcast.  The oracle ranks the same grain with a plain window.

OOV_VOCAB_K = 16


def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    d = docs_df(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    st = (d.select("source", F.explode(ws).alias("tok"))
           .groupBy("source", "tok")
           .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    gt = (st.groupBy("tok")
            .agg(F.sum("cnt").cast("bigint").alias("gcnt")))
    ranked = banded_rank(
        gt, [], band=F.expr("CAST(floor(log2(gcnt)) AS BIGINT)"),
        order_cols=[F.col("gcnt").desc(), F.col("tok").asc()],
        rank_name="rnk", descending_bands=True)
    vocab = ranked.filter(F.col("rnk") <= OOV_VOCAB_K) \
                  .select("tok", F.lit(1).alias("in_vocab"))
    j = st.join(F.broadcast(vocab), "tok", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (j.groupBy("source")
             .agg(F.sum("cnt").cast("bigint").alias("n_tokens"),
                  F.sum(F.col("cnt") * oov).cast("bigint")
                   .alias("n_oov_tokens"),
                  F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                  F.sum(oov).cast("bigint").alias("n_distinct_oov"))
             .select("source", "n_tokens", "n_oov_tokens",
                     F.expr("CAST(n_oov_tokens * 1000000 div n_tokens"
                            " AS BIGINT)").alias("oov_ppm"),
                     "n_distinct", "n_distinct_oov")
             .orderBy("source"))


def sql_text_oov_rate() -> str:
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH st AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest({toks}) AS tok FROM documents)
  GROUP BY 1, 2
),
gt AS (
  SELECT tok, CAST(sum(cnt) AS BIGINT) AS gcnt FROM st GROUP BY 1
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY gcnt DESC, tok) AS rnk
    FROM gt)
  WHERE rnk <= {OOV_VOCAB_K}
)
SELECT s.source,
       CAST(sum(s.cnt) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN s.cnt ELSE 0 END) AS BIGINT)
         AS n_oov_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN s.cnt ELSE 0 END) * 1000000
            // sum(s.cnt) AS BIGINT) AS oov_ppm,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_distinct_oov
FROM st s LEFT JOIN vocab v USING (tok)
GROUP BY 1
ORDER BY 1"""


# --- Document-frequency drift between crawl halves (round 9) ---------------------
# The "did the crawl distribution shift" readout, log-free: split the
# corpus by ingest parity (doc_id % 2 — the deterministic stand-in for
# crawl A/B), compute each token's document-frequency rate in ppm on
# both sides, and report the top-DRIFT_K tokens by absolute rate delta
# (ties by token).  A token whose df_ppm moves sharply between halves
# is a template, a new boilerplate, or a topic shift — the
# retrieval-side twin of dq_psi_drift, kept in pure integers (no
# micro-nat logs, so no JVM-vs-C libm exposure).
#
# Scale shape: one corpus pass to (half, token, df) via a two-level
# keyed distinct (doc, token) aggregate; the vocabulary-grain join +
# banded top-K rank never touch the corpus again.

DRIFT_K = 20


def q_text_idf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    d = docs_df(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    dt = (d.select(F.expr("doc_id % 2").alias("half"), "doc_id",
                   F.explode(ws).alias("tok"))
           .distinct())
    ndocs = (dt.select("half", "doc_id").distinct()
               .groupBy("half")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    df_ = (dt.groupBy("half", "tok")
             .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
             .join(F.broadcast(ndocs), "half")
             .select("half", "tok",
                     F.expr("CAST(df * 1000000 div n AS BIGINT)")
                      .alias("df_ppm")))
    a = (df_.filter(F.col("half") == 0)
            .select("tok", F.col("df_ppm").alias("df_a_ppm")))
    b = (df_.filter(F.col("half") == 1)
            .select("tok", F.col("df_ppm").alias("df_b_ppm")))
    j = (a.join(b, "tok", "full")
          .select("tok",
                  F.coalesce("df_a_ppm", F.lit(0)).cast("bigint")
                   .alias("df_a_ppm"),
                  F.coalesce("df_b_ppm", F.lit(0)).cast("bigint")
                   .alias("df_b_ppm"))
          .withColumn("delta_ppm",
                      F.expr("CAST(abs(df_a_ppm - df_b_ppm) AS BIGINT)")))
    ranked = banded_rank(
        j, [], band=F.expr("delta_ppm div 1000"),
        order_cols=[F.col("delta_ppm").desc(), F.col("tok").asc()],
        rank_name="rnk", descending_bands=True)
    return (ranked.filter(F.col("rnk") <= DRIFT_K)
                  .select("tok", "df_a_ppm", "df_b_ppm", "delta_ppm")
                  .orderBy(F.col("delta_ppm").desc(), F.col("tok")))


def sql_text_idf_drift() -> str:
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id % 2 AS half, doc_id, tok
  FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
),
ndocs AS (
  SELECT half, CAST(count(DISTINCT doc_id) AS BIGINT) AS n
  FROM dt GROUP BY 1
),
df AS (
  SELECT d.half, d.tok,
         CAST(CAST(count(*) AS BIGINT) * 1000000 // max(n.n) AS BIGINT)
           AS df_ppm
  FROM dt d JOIN ndocs n USING (half)
  GROUP BY 1, 2
),
j AS (
  SELECT COALESCE(a.tok, b.tok) AS tok,
         CAST(COALESCE(a.df_ppm, 0) AS BIGINT) AS df_a_ppm,
         CAST(COALESCE(b.df_ppm, 0) AS BIGINT) AS df_b_ppm
  FROM (SELECT tok, df_ppm FROM df WHERE half = 0) a
  FULL JOIN (SELECT tok, df_ppm FROM df WHERE half = 1) b USING (tok)
),
ranked AS (
  SELECT tok, df_a_ppm, df_b_ppm,
         CAST(abs(df_a_ppm - df_b_ppm) AS BIGINT) AS delta_ppm,
         row_number() OVER (ORDER BY abs(df_a_ppm - df_b_ppm) DESC, tok)
           AS rnk
  FROM j
)
SELECT tok, df_a_ppm, df_b_ppm, delta_ppm
FROM ranked WHERE rnk <= {DRIFT_K}
ORDER BY delta_ppm DESC, tok"""


# --- Token burstiness (round 9) ---------------------------------------------------
# Church-Gale burstiness for the top-OOV_VOCAB_K tokens: the
# variance-to-mean ratio of per-document counts (zeros included).
# VMR == 1 is Poisson scatter; VMR >> 1 marks tokens that pile into
# few documents (templates, boilerplate, topic jargon) even when
# their corpus frequency looks ordinary — a curation signal Zipf
# slopes and heavy-hitter lists both miss.
#
# Exactness: with N docs, total count tc and per-doc sum of squares
# ssq (zero docs contribute zero), VMR = (N*ssq - tc^2) / (N*tc)
# exactly — one milli-truncation per token.  DECIMAL(38,0) guards
# N*ssq (1e11 docs x counts^2 overflows BIGINT at 100 TB).
#
# Scale shape: corpus pass -> (doc, tok) keyed counts restricted to
# the broadcast K-token vocab; token-grain rollup; the N scalar rides
# a broadcast.  The top-K vocab reuses the banded log2(count) rank on
# the vocabulary-grain table (text_oov_rate's device).

def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    d = docs_df(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    dtok = d.select("doc_id", F.explode(ws).alias("tok"))
    gt = (dtok.groupBy("tok")
              .agg(F.count(F.lit(1)).cast("bigint").alias("gcnt")))
    ranked = banded_rank(
        gt, [], band=F.expr("CAST(floor(log2(gcnt)) AS BIGINT)"),
        order_cols=[F.col("gcnt").desc(), F.col("tok").asc()],
        rank_name="rnk", descending_bands=True)
    vocab = ranked.filter(F.col("rnk") <= OOV_VOCAB_K).select("tok")
    per_doc = (dtok.join(F.broadcast(vocab), "tok")
                   .groupBy("tok", "doc_id")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    ndocs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    dec = "DECIMAL(38,0)"
    return (per_doc.groupBy("tok")
                   .agg(F.sum("c").cast("bigint").alias("total_cnt"),
                        F.count(F.lit(1)).cast("bigint").alias("df_docs"),
                        F.sum(F.expr("c * c")).cast("bigint").alias("ssq"))
                   .crossJoin(F.broadcast(ndocs))
                   .select("tok", "total_cnt", "df_docs",
                           F.expr(
                               f"CAST((CAST(n_docs AS {dec}) * ssq"
                               f" - CAST(total_cnt AS {dec}) * total_cnt)"
                               " * 1000"
                               f" div (CAST(n_docs AS {dec}) * total_cnt)"
                               " AS BIGINT)").alias("vmr_milli"))
                   .orderBy("tok"))


def sql_text_burstiness() -> str:
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH dtok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
gt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS gcnt FROM dtok GROUP BY 1
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY gcnt DESC, tok) AS rnk
    FROM gt)
  WHERE rnk <= {OOV_VOCAB_K}
),
per_doc AS (
  SELECT d.tok, d.doc_id, CAST(count(*) AS BIGINT) AS c
  FROM dtok d JOIN vocab v USING (tok)
  GROUP BY 1, 2
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT tok,
       CAST(sum(c) AS BIGINT) AS total_cnt,
       CAST(count(*) AS BIGINT) AS df_docs,
       CAST((CAST(max(nd.n_docs) AS HUGEINT) * sum(c * c)
             - CAST(sum(c) AS HUGEINT) * sum(c)) * 1000
            // (CAST(max(nd.n_docs) AS HUGEINT) * sum(c)) AS BIGINT)
         AS vmr_milli
FROM per_doc, nd
GROUP BY tok
ORDER BY tok"""


# --- Character-digram entropy per source (round 10) ----------------------------
# The compression-proxy quality score DSIR/Gopher pipelines use as a
# cheap perplexity stand-in: the Shannon entropy of the character
# DIGRAM distribution per source, in integer micro-nats.  Machine-
# generated or template text shows collapsed digram entropy long
# before a model-based filter runs; natural prose sits near the
# language's characteristic value — so this is the first-pass router
# of a 100 TB curation funnel (cheap, model-free, source-grain).
#
# Exactness: the events_entropy_daily device — H = sum(c_g * w_g) / n
# with w_g = floor(1e6 * ln(n / c_g)) evaluated once per DISTINCT
# digram on identical integer-derived doubles in both engines, and
# the final division an exact BIGINT floor-div of nonnegative ints.
#
# Scale shape: the per-character substring explode is the corpus pass
# (fan_out: ~2x n_chars rows of CPU per scan byte — the trigram-
# profile lesson); ONE map-side-combined groupBy(source, digram)
# collapses it to vocabulary grain (digrams <= alphabet^2, so the
# per-source total re-join is a broadcast of a bounded table).
# Nothing returns to the corpus after the first aggregate.
# Reference parity: the quality-scoring role of text filters in the
# curation family (SURVEY §2 beyond-reference block).

def q_text_digram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Guard: Spark sequence(1, 0) descends (never empty), so a <2-char
    # doc would emit a bogus "digram" while DuckDB generate_series(1, 0)
    # is empty — filter short docs out first, mirrored in the oracle
    # (same device as text_char_trigram_profile, ADVICE r7).
    d = domain.fan_out(docs_df(spark, sf_dir))
    digs = (d.filter(F.length("text") >= 2)
             .select("source",
                     F.explode(F.expr(
                         "transform(sequence(1, length(text) - 1),"
                         " i -> substring(text, i, 2))")).alias("dig")))
    counts = (digs.groupBy("source", "dig")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    tot = counts.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    terms = (counts.join(F.broadcast(tot), "source")
                   .select("source", "n", "c",
                           F.floor(F.lit(1e6) * F.log(
                               F.col("n").cast("double")
                               / F.col("c").cast("double")))
                            .cast("bigint").alias("w")))
    return (terms.groupBy("source")
                 .agg(F.max("n").cast("bigint").alias("n_digrams"),
                      F.count(F.lit(1)).cast("bigint")
                       .alias("n_distinct_digrams"),
                      F.expr("CAST(sum(c * w) div max(n) AS BIGINT)")
                       .alias("entropy_micro_nats"))
                 .orderBy("source"))


def sql_text_digram_entropy() -> str:
    return """
WITH digs AS (
  SELECT source, substr(text, i, 2) AS dig
  FROM (SELECT source, text,
               unnest(generate_series(1, length(text) - 1)) AS i
        FROM documents
        WHERE length(text) >= 2)
),
counts AS (
  SELECT source, dig, CAST(count(*) AS BIGINT) AS c
  FROM digs GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
terms AS (
  SELECT c.source, t.n, c.c,
         CAST(floor(1e6 * ln(CAST(t.n AS DOUBLE)
                             / CAST(c.c AS DOUBLE))) AS BIGINT) AS w
  FROM counts c JOIN tot t USING (source)
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_digrams,
       CAST(count(*) AS BIGINT) AS n_distinct_digrams,
       CAST(sum(c * w) // max(n) AS BIGINT) AS entropy_micro_nats
FROM terms
GROUP BY source
ORDER BY source"""
