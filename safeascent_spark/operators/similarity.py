"""Similarity search over the `embeddings` table (P6): brute-force cosine
top-k baseline + random-hyperplane LSH bucketed variant.

Spark side computes dot products with higher-order array functions
(`zip_with` + `aggregate`) — JVM-side, no UDF, no explode of the probe side.
The DuckDB oracle uses an explicit long-form (unnest + join + sum) of the
same math; final values are rounded so the two float paths agree.

Scale notes: queries are the broadcast side; the corpus scan streams.
Brute force is O(|corpus| * k_queries) — the honest baseline; the LSH
variant buckets the corpus by hyperplane sign bits so each query only
scans its bucket (the 100 TB path, trading recall for a ~2^bits fanout cut).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import domain

TOP_K = 10
N_QUERIES = 5        # first N vec_ids serve as query vectors
LSH_BITS = 4         # hyperplane count for the bucketed variant
DIM = 64


def embeddings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "embeddings")
    # float -> double once at the scan so all math is double precision
    return e.selectExpr(
        "vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS vec")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk_df(spark: SparkSession, sf_dir: str,
                   k: int = TOP_K) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for the query set."""
    e = embeddings_df(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("vec").alias("qvec")))
    pairs = domain.fan_out(e).crossJoin(F.broadcast(q)) \
                 .filter(F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("vec"), F.col("qvec")) / (_norm(F.col("vec"))
                                               * _norm(F.col("qvec")))
    scored = pairs.select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          F.col("vec_id").alias("neighbor_id"),
                          F.round("cosine", 6).alias("cosine"))
                  .orderBy("query_id", "rank"))


def sql_cosine_topk(k: int = TOP_K) -> str:
    return f"""
WITH flat AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id, sum(q.x * c.x) AS dot
  FROM flat q JOIN flat c ON q.i = c.i
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id,
         d.dot / (nc.nrm * nq.nrm) AS cosine
  FROM dots d
  JOIN norms nc ON d.vec_id = nc.vec_id
  JOIN norms nq ON d.query_id = nq.vec_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       round(cosine, 6) AS cosine
FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank"""


# --- int8-quantized variant --------------------------------------------------

def quantized_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization: q = round(clamp(x, -1, 1) * 127).

    The 100 TB play: a 64-dim float32 vector is 256 bytes, the int8 form is
    64 — a 4x cut in scan+shuffle bandwidth for a small recall cost.  All
    dot products and norms over the quantized vectors are exact integer
    arithmetic, so Spark and the DuckDB oracle agree bitwise up to the one
    final float division."""
    e = embeddings_df(spark, sf_dir)
    qv = F.transform(
        F.col("vec"),
        lambda x: F.round(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x))
                          * 127, 0).cast("long"))
    return e.select("vec_id", "label", qv.alias("qvec"))


def q_ann_cosine_int8(spark: SparkSession, sf_dir: str,
                      k: int = TOP_K) -> DataFrame:
    """Brute-force top-k cosine over int8-quantized vectors."""
    e = quantized_df(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("qvec").alias("quvec")))
    pairs = domain.fan_out(e).crossJoin(F.broadcast(q)) \
                 .filter(F.col("vec_id") != F.col("query_id"))
    idot = F.aggregate(F.zip_with(F.col("qvec"), F.col("quvec"),
                                  lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    inorm = lambda a: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double"))
    cos = idot.cast("double") / (inorm(F.col("qvec")) * inorm(F.col("quvec")))
    scored = pairs.select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          F.col("vec_id").alias("neighbor_id"),
                          F.round("cosine", 6).alias("cosine"))
                  .orderBy("query_id", "rank"))


def sql_ann_cosine_int8(k: int = TOP_K) -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    return f"""
WITH qflat AS (
  SELECT vec_id, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
qnorms AS (
  SELECT vec_id, sqrt(CAST(sum(x * x) AS DOUBLE)) AS nrm
  FROM qflat GROUP BY vec_id
),
qdots AS (
  SELECT q.vec_id AS query_id, c.vec_id, CAST(sum(q.x * c.x) AS BIGINT) AS dot
  FROM qflat q JOIN qflat c ON q.i = c.i
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
qscored AS (
  SELECT d.query_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (nc.nrm * nq.nrm) AS cosine
  FROM qdots d
  JOIN qnorms nc ON d.vec_id = nc.vec_id
  JOIN qnorms nq ON d.query_id = nq.vec_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       round(cosine, 6) AS cosine
FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM qscored
)
WHERE rank <= {k}
ORDER BY query_id, rank"""


# --- LSH-bucketed variant ----------------------------------------------------

def _plane_component(j: int, d: int) -> int:
    """Deterministic integer hyperplane component in [-3, 3]."""
    return ((j * 131 + d * 17) % 7) - 3


def lsh_bucket_expr(vec):
    """Sign-bit bucket id over LSH_BITS deterministic integer hyperplanes.

    dot(vec, plane_j) computed with aggregate over the array; bit j set when
    the projection is positive.
    """
    bucket = F.lit(0)
    for j in range(LSH_BITS):
        plane = F.array(*[F.lit(float(_plane_component(j, d)))
                          for d in range(DIM)])
        proj = F.aggregate(F.zip_with(vec, plane, lambda x, p: x * p),
                           F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(proj > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return bucket


def q_ann_lsh(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket."""
    e = embeddings_df(spark, sf_dir).withColumn(
        "bucket", lsh_bucket_expr(F.col("vec")))
    q = (e.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("vec").alias("qvec"),
                  F.col("bucket").alias("qbucket")))
    cand = (e.join(F.broadcast(q),
                   (F.col("bucket") == F.col("qbucket"))
                   & (F.col("vec_id") != F.col("query_id"))))
    cos = _dot(F.col("vec"), F.col("qvec")) / (_norm(F.col("vec"))
                                               * _norm(F.col("qvec")))
    scored = cand.select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          F.col("vec_id").alias("neighbor_id"),
                          F.round("cosine", 6).alias("cosine"))
                  .orderBy("query_id", "rank"))


def sql_ann_lsh(k: int = TOP_K) -> str:
    planes = " + ".join(
        "CASE WHEN (" + " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * {float(_plane_component(j, d))}"
            for d in range(DIM))
        + f") > 0 THEN {2 ** j} ELSE 0 END"
        for j in range(LSH_BITS))
    return f"""
WITH buckets AS (
  SELECT vec_id, ({planes}) AS bucket FROM embeddings
),
flat AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id, sum(q.x * c.x) AS dot
  FROM flat q JOIN flat c ON q.i = c.i
  JOIN buckets bq ON q.vec_id = bq.vec_id
  JOIN buckets bc ON c.vec_id = bc.vec_id
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    AND bq.bucket = bc.bucket
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id, d.dot / (nc.nrm * nq.nrm) AS cosine
  FROM dots d
  JOIN norms nc ON d.vec_id = nc.vec_id
  JOIN norms nq ON d.query_id = nq.vec_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id,
       round(cosine, 6) AS cosine
FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank"""


# --- Embedding column statistics ---------------------------------------------

def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label count, mean norm, mean of first component — the cheap
    sanity aggregations a pipeline runs over an embedding column."""
    e = embeddings_df(spark, sf_dir)
    return (e.select("label", _norm(F.col("vec")).alias("nrm"),
                     F.element_at("vec", 1).alias("c0"))
             .groupBy("label")
             .agg(F.count(F.lit(1)).alias("n_vectors"),
                  F.round(F.avg("nrm"), 6).alias("avg_norm"),
                  F.round(F.avg("c0"), 6).alias("avg_first_component"))
             .orderBy("label"))


def sql_embedding_stats() -> str:
    return f"""
WITH norms AS (
  SELECT vec_id, label, CAST(embedding[1] AS DOUBLE) AS c0,
         sqrt(sum_sq) AS nrm
  FROM (
    SELECT vec_id, label, embedding,
           (SELECT sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))
            FROM unnest(embedding) AS t(u)) AS sum_sq
    FROM embeddings
  )
)
SELECT label, count(*) AS n_vectors,
       round(avg(nrm), 6) AS avg_norm,
       round(avg(c0), 6) AS avg_first_component
FROM norms GROUP BY label ORDER BY label"""


# --- Embedding-cosine near-duplicate detection -------------------------------
#
# Corpus-wide near-dup mining cannot use the 2^LSH_BITS=16-bucket scheme the
# ANN queries use: with B buckets the candidate set is ~|corpus|^2 / B pairs,
# which is quadratic at any realistic corpus size.  Instead this uses
# MinHash-LSH-style banding over random-hyperplane sign bits (the SimHash
# recipe in operators/dedup.py, applied to dense vectors):
#
# * N_BANDS bands x BAND_BITS sign bits per band -> 2^BAND_BITS = 65536
#   buckets *per band*; a pair is a candidate iff it collides in >= 1 band
#   (OR-construction), so recall stays high for cosine >= 0.95 (per-bit
#   agreement ~0.9, per-band ~0.9^16 ~ 0.19, any-of-8-bands ~ 0.81; near-1
#   for cosine -> 1) while the candidate count stays near-linear.
# * Projections run over int8-quantized vectors, so the sign bits are exact
#   integer arithmetic — order-independent, bitwise-identical between the
#   Arrow-batched numpy matmul on the Spark side and the DuckDB oracle.
# * The sf0.01 check is made non-vacuous by seeding TWIN_COUNT derived
#   near-duplicate vectors (a deterministic small perturbation, cosine
#   ~0.998) — both engines derive the same twins, so the parity row set is
#   guaranteed non-empty and the banding recall is actually exercised.

NEARDUP_COSINE = 0.95
N_BANDS = 8          # OR-construction width
BAND_BITS = 16       # sign bits per band -> 65536 buckets/band
N_PLANES = N_BANDS * BAND_BITS
TWIN_COUNT = 25      # vec_id < TWIN_COUNT get a derived near-dup twin
TWIN_OFFSET = 1_000_000


def _band_plane(j: int, d: int) -> int:
    """Deterministic integer hyperplane component in [-3, 3] for the banded
    scheme.  NOTE: the older ``_plane_component`` formula has period 7 in j
    (``j*131 % 7 == j*5 % 7``) and cannot generate more than 7 distinct
    planes; this one uses a modulus (131) coprime to the j-stride and larger
    than N_PLANES, so all 128 planes are distinct."""
    return ((j * 73856093 + d * 19349663) % 131) % 7 - 3


def corpus_with_twins_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings corpus plus TWIN_COUNT seeded near-duplicate twins.

    Twin of v: vec_id + TWIN_OFFSET, each component perturbed by
    ((d*7 % 11) - 5)/255 (d = 0-based index) — deterministic, cosine ~0.998.
    """
    e = embeddings_df(spark, sf_dir)
    # y is the 0-based index (PySpark's own name for a lambda's 2nd arg)
    twins = e.filter(f"vec_id < {TWIN_COUNT}").selectExpr(
        f"vec_id + {TWIN_OFFSET} AS vec_id", "label",
        "transform(vec, (x, y) -> x + ((y * 7) % 11 - 5) / 255.0D) AS vec")
    return e.unionByName(twins)


def _quantize_sql(vec: str) -> str:
    """int8 scalar quantization of array column ``vec`` (same recipe as
    quantized_df), as SQL text."""
    return (f"transform({vec}, x -> CAST(round(greatest(-1.0D, "
            f"least(1.0D, x)) * 127, 0) AS BIGINT))")


def _idot_sql(a: str, b: str) -> str:
    """Integer dot product of two long-array columns as SQL text (exact,
    order-independent)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, "
            f"(x, y) -> x + y)")


def _band0_cell_sql(qvec: str) -> str:
    """Band 0 of ``band_signatures_df`` as one JVM expression: bit j is
    set iff the quantized vector's integer projection on plane j is
    positive.  Integer-exact, so it equals the Arrow pass bit for bit."""
    bits = []
    for j in range(BAND_BITS):
        plane = ", ".join(str(_band_plane(j, d)) for d in range(DIM))
        dot = _idot_sql(qvec, f"array({plane})")
        bits.append(f"IF({dot} > 0, {1 << j}L, 0L)")
    return " + ".join(bits)


def band_signatures_df(corpus: DataFrame) -> DataFrame:
    """(vec_id, band, sig) — one 16-bit signature per band per vector.

    Arrow-batched numpy path: per input batch one int64 matmul
    (n x DIM) @ (DIM x N_PLANES), sign bits packed per band.  Exact integer
    arithmetic end-to-end, so it is bitwise-reproducible against the oracle's
    unnest/groupBy formulation.  No shuffle: n rows in, n*N_BANDS rows out,
    linear scan — the 100 TB-safe signature pass (contrast an explode-based
    DataFrame formulation, which inflates n*DIM*N_PLANES rows pre-combine).
    """
    import numpy as np
    import pandas as pd

    planes_t = np.array([[_band_plane(j, d) for j in range(N_PLANES)]
                         for d in range(DIM)], dtype=np.int64)  # (DIM, 128)
    bands = np.arange(N_BANDS, dtype=np.int32)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qmat = np.array(pdf["qvec"].tolist(), dtype=np.int64)
            proj = qmat @ planes_t                      # (n, N_PLANES) exact
            bits = (proj > 0).astype(np.int64)
            sigs = np.zeros((len(pdf), N_BANDS), dtype=np.int64)
            for b in range(N_BANDS):
                for r in range(BAND_BITS):
                    sigs[:, b] |= bits[:, b * BAND_BITS + r] << r
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), N_BANDS),
                "band": np.tile(bands, len(pdf)),
                "sig": sigs.reshape(-1),
            })

    q = corpus.selectExpr("vec_id", f"{_quantize_sql('vec')} AS qvec")
    return q.mapInPandas(gen, "vec_id long, band int, sig long")


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs: cosine >= NEARDUP_COSINE, candidates
    restricted to pairs colliding in >= 1 of N_BANDS 16-bit LSH bands.

    Scale shape: signature pass is a linear scan (no shuffle); the candidate
    join is an equi-join on (band, sig) — 65536 buckets/band keeps the
    intra-bucket pair count near-linear; `distinct` dedups the OR-construction;
    the final cosine pass joins the (bounded) candidate pairs back to the
    vectors on vec_id.  Never a full |corpus|^2 sweep, never a >16-way
    bucket-collision blowup (reference parity target:
    backend/app/services/safety_algorithm.py has no dedup — this is the
    LLM-pipeline extension surface)."""
    corpus = corpus_with_twins_df(spark, sf_dir)
    sigs = band_signatures_df(corpus)
    a = sigs.select(F.col("vec_id").alias("vec_a"), "band", "sig")
    b = sigs.select(F.col("vec_id").alias("vec_b"), "band", "sig")
    cand = (a.join(b, ["band", "sig"])
             .filter(F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "vec_b")
             .distinct())
    va = corpus.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    scored = cand.join(va, "vec_a").join(vb, "vec_b")
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va"))
                                            * _norm(F.col("vb")))
    return (scored.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
                  .filter(F.col("cosine") >= NEARDUP_COSINE)
                  .orderBy("vec_a", "vec_b"))


def sql_dedup_embedding_cosine() -> str:
    return f"""
WITH flat0 AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
flat AS (
  SELECT * FROM flat0
  UNION ALL
  SELECT vec_id + {TWIN_OFFSET}, i,
         x + (((i - 1) * 7) % 11 - 5) / 255.0
  FROM flat0 WHERE vec_id < {TWIN_COUNT}
),
qflat AS (
  SELECT vec_id, i,
         CAST(round(least(greatest(x, -1.0), 1.0) * 127) AS BIGINT) AS qx
  FROM flat
),
planes AS (
  SELECT js.j, ds.d,
         ((js.j * 73856093 + ds.d * 19349663) % 131) % 7 - 3 AS p
  FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS j) js,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS d) ds
),
proj AS (
  SELECT q.vec_id, pl.j, CAST(sum(q.qx * pl.p) AS BIGINT) AS pr
  FROM qflat q JOIN planes pl ON q.i = pl.d + 1
  GROUP BY q.vec_id, pl.j
),
sigs AS (
  SELECT vec_id, j // {BAND_BITS} AS band,
         CAST(sum(CASE WHEN pr > 0
                       THEN CAST(1 AS BIGINT) << (j % {BAND_BITS})
                       ELSE 0 END) AS BIGINT) AS sig
  FROM proj GROUP BY vec_id, j // {BAND_BITS}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id
),
dots AS (
  SELECT c.vec_a, c.vec_b, sum(fa.x * fb.x) AS dot
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.vec_a
  JOIN flat fb ON fb.vec_id = c.vec_b AND fa.i = fb.i
  GROUP BY c.vec_a, c.vec_b
)
SELECT d.vec_a, d.vec_b,
       round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN norms na ON d.vec_a = na.vec_id
JOIN norms nb ON d.vec_b = nb.vec_id
WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= {NEARDUP_COSINE}
ORDER BY vec_a, vec_b"""


# --- Filtered vector search (metadata predicate + top-k) ---------------------
# Retrieval pipelines rarely search the whole corpus: RAG and dedup
# lookups filter by tenant/language/class first.  The right plan
# PRE-filters the corpus scan (predicate pushdown BEFORE scoring), not
# post-filters the top-k — post-filtering an ANN shortlist silently
# returns < k results when the filter is selective.

FILTERED_TOP_K = 5


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str,
                        k: int = FILTERED_TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors restricted to the QUERY's OWN label
    class (same-class retrieval — the label stands in for any metadata
    predicate).

    Scale shape: the label equality rides the pair join condition, so
    Catalyst evaluates it BEFORE the O(DIM) dot product (a cheap int
    compare prunes ~ (1 - 1/|labels|) of all pairs); the top-k
    row_number <= k then truncates map-side via WindowGroupLimit.  At
    selective filters this beats an unfiltered ANN + post-filter both on
    cost and on result completeness.
    """
    e = embeddings_df(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("label").alias("qlabel"),
                  F.col("vec").alias("qvec")))
    pairs = (domain.fan_out(e)
             .join(F.broadcast(q),
                   (F.col("label") == F.col("qlabel"))
                   & (F.col("vec_id") != F.col("query_id"))))
    cos = _dot(F.col("vec"), F.col("qvec")) / (_norm(F.col("vec"))
                                               * _norm(F.col("qvec")))
    scored = pairs.select("query_id", "vec_id", "label", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col("rank").cast("int").alias("rank"),
                          F.col("vec_id").alias("neighbor_id"), "label",
                          F.round("cosine", 6).alias("cosine"))
                  .orderBy("query_id", "rank"))


def sql_ann_filtered_topk(k: int = FILTERED_TOP_K) -> str:
    return f"""
WITH flat AS (
  SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id, c.label, sum(q.x * c.x) AS dot
  FROM flat q JOIN flat c ON q.i = c.i AND q.label = c.label
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id, c.label
),
scored AS (
  SELECT d.query_id, d.vec_id, d.label,
         d.dot / (nc.nrm * nq.nrm) AS cosine
  FROM dots d
  JOIN norms nc ON d.vec_id = nc.vec_id
  JOIN norms nq ON d.query_id = nq.vec_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, label,
       round(cosine, 6) AS cosine
FROM (
  SELECT query_id, vec_id, label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank"""


# --- SemDeDup-style semantic deduplication -----------------------------------
# Doc-level *semantic* dedup (SemDeDup, Abbas et al. 2023): partition the
# embedding space into cells, then inside each cell prune every vector that
# is within cosine tau of an earlier-kept one.  The cell here is the band-0
# 16-bit random-hyperplane signature (the same deterministic SRP machinery
# as the near-dup banding above) rather than a k-means cell: identical
# partition-then-prune semantics, but exactly reproducible in ANSI SQL, so
# the DuckDB oracle checks full values instead of a recall certificate.
# Only band 0 is needed, so it is one generated JVM expression over the
# 16 integer planes (``_band0_cell_sql``) rather than the Arrow pass: a
# Python worker's per-task setup cost more than the whole cell.
# (The k-means-cell variant of the same pattern lives in ml.py as
# embedding_kmeans_cells + ann_ivf_topk.)  The keep rule is the
# deterministic parallel form: v is pruned iff SOME u < v in its cell has
# cos(u, v) >= tau — order-free, so every executor and the oracle agree
# without sequential chaining.

SEMDEDUP_TAU_NUM = 9    # tau = 0.9, kept as a ratio for integer-exact math
SEMDEDUP_TAU_DEN = 10


@domain.checkpointed("semdedup_cell_frame", scope="invocation")
def _semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, qvec, n2): the quantized corpus, its band-0 cell and
    its squared norm, all computed in the JVM."""
    return (corpus_with_twins_df(spark, sf_dir)
            .selectExpr("vec_id", f"{_quantize_sql('vec')} AS qvec")
            .selectExpr("vec_id", f"{_band0_cell_sql('qvec')} AS cell",
                        "qvec", f"{_idot_sql('qvec', 'qvec')} AS n2"))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, pruned) over the twin-seeded corpus.

    All comparisons are int64: cos(qa, qb) >= NUM/DEN is evaluated as
    dot >= 0 AND dot^2 * DEN^2 >= NUM^2 * |qa|^2 * |qb|^2 over the
    int8-quantized vectors (max |dot^2*DEN^2| ~ 2^47 — no overflow), so
    Spark and DuckDB agree bitwise with zero float divisions.

    Scale shape: the signature pass is a linear scan; the only shuffle is
    the self-equi-join on the 2^16-bucket cell key, where the per-cell
    pair count is (|corpus|/65536)^2-ish — the same sub-quadratic budget
    as dedup_embedding_cosine.  The prune decision never leaves the cell,
    so cells scale out embarrassingly; a skewed hot cell is AQE-splittable
    because the join is a plain equi-join.
    """
    # The signed + quantized corpus is materialized once: it feeds both
    # sides of the cell self-join and the final cells projection, which
    # would each recompute the twin union, the cell and the quantization;
    # with one checkpoint the self-join's sides are identical subtrees,
    # so the cell shuffle itself is computed once and reused.
    dot = _idot_sql("qa", "qb")
    return spark.sql(f"""
WITH a AS (SELECT vec_id AS va, cell, qvec AS qa, n2 AS na2 FROM {{m}}),
b AS (SELECT vec_id AS vb, cell, qvec AS qb, n2 AS nb2 FROM {{m}}),
pairs AS (
  SELECT * FROM a JOIN b USING (cell)
  WHERE va < vb AND na2 > 0 AND nb2 > 0
),
pruned AS (
  SELECT vec_id, true AS is_pruned FROM (
    SELECT DISTINCT vb AS vec_id FROM pairs
    WHERE {dot} >= 0 AND {dot} * {dot} * {SEMDEDUP_TAU_DEN ** 2}
                         >= {SEMDEDUP_TAU_NUM ** 2} * na2 * nb2)
)
SELECT vec_id, cell, coalesce(is_pruned, false) AS pruned
FROM (SELECT vec_id, cell FROM {{m}}) LEFT JOIN pruned USING (vec_id)
ORDER BY vec_id""", m=_semdedup_cells(spark, sf_dir))


def sql_dedup_semantic() -> str:
    return f"""
WITH flat0 AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
flat AS (
  SELECT * FROM flat0
  UNION ALL
  SELECT vec_id + {TWIN_OFFSET}, i,
         x + (((i - 1) * 7) % 11 - 5) / 255.0
  FROM flat0 WHERE vec_id < {TWIN_COUNT}
),
qflat AS (
  SELECT vec_id, i,
         CAST(round(least(greatest(x, -1.0), 1.0) * 127) AS BIGINT) AS qx
  FROM flat
),
planes AS (
  SELECT js.j, ds.d,
         ((js.j * 73856093 + ds.d * 19349663) % 131) % 7 - 3 AS p
  FROM (SELECT unnest(generate_series(0, {BAND_BITS - 1})) AS j) js,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS d) ds
),
proj AS (
  SELECT q.vec_id, pl.j, CAST(sum(q.qx * pl.p) AS BIGINT) AS pr
  FROM qflat q JOIN planes pl ON q.i = pl.d + 1
  GROUP BY q.vec_id, pl.j
),
cells AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN pr > 0
                       THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
           AS cell
  FROM proj GROUP BY vec_id
),
n2 AS (
  SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS n2 FROM qflat
  GROUP BY vec_id
),
m AS (SELECT c.vec_id, c.cell, n.n2 FROM cells c JOIN n2 n USING (vec_id)),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.n2 AS na2, b.n2 AS nb2
  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.n2 > 0 AND b.n2 > 0
),
dots AS (
  SELECT p.va, p.vb, p.na2, p.nb2,
         CAST(sum(qa.qx * qb.qx) AS BIGINT) AS dot
  FROM pairs p
  JOIN qflat qa ON qa.vec_id = p.va
  JOIN qflat qb ON qb.vec_id = p.vb AND qa.i = qb.i
  GROUP BY p.va, p.vb, p.na2, p.nb2
),
pruned AS (
  SELECT DISTINCT vb AS vec_id FROM dots
  WHERE dot >= 0
    AND dot * dot * {SEMDEDUP_TAU_DEN ** 2}
        >= {SEMDEDUP_TAU_NUM ** 2} * na2 * nb2
)
SELECT m.vec_id, m.cell, (p.vec_id IS NOT NULL) AS pruned
FROM m LEFT JOIN pruned p USING (vec_id)
ORDER BY m.vec_id"""


# --- kNN label propagation (majority-vote classification) --------------------
# Training-data curation routinely labels an unlabeled slice by vote of its
# nearest labeled neighbors (quality tiers, topic buckets, license classes);
# the reference's analog is route-type inference from nearby routes
# (mp_routes.py route_type_weighting usage).  The engine form: int8-exact
# cosine kNN against the labeled corpus, then an integer majority vote.

KNN_QUERIES = 20     # vec_id < KNN_QUERIES form the unlabeled probe slice
KNN_K = 15           # neighbors per probe


def q_knn_classify(spark: SparkSession, sf_dir: str,
                   k: int = KNN_K) -> DataFrame:
    """Majority-vote kNN classification over int8-quantized cosine.

    Determinism contract (what makes this hash-green, not rows-only): all
    dot products and squared norms are exact int64 arithmetic over the
    quantized vectors, the rank order divides identical integers through
    identical IEEE doubles in both engines, and the vote itself is pure
    integer counting with a (votes DESC, label ASC) tie-break — no float
    ever decides between two candidates that could collide.

    Scale: probes broadcast (the unlabeled slice per pass is bounded); the
    labeled corpus streams through one WindowGroupLimit top-k, then the
    vote aggregates |probes| x k rows — corpus-size-independent post-join.
    """
    e = quantized_df(spark, sf_dir)
    probes = (e.filter(F.col("vec_id") < KNN_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qvec").alias("quvec")))
    corpus = e.filter(F.col("vec_id") >= KNN_QUERIES)
    pairs = domain.fan_out(corpus).crossJoin(F.broadcast(probes))
    idot = F.aggregate(F.zip_with(F.col("qvec"), F.col("quvec"),
                                  lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    inorm = lambda a: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double"))
    cos = idot.cast("double") / (inorm(F.col("qvec")) * inorm(F.col("quvec")))
    scored = pairs.select("query_id", "vec_id", "label", cos.alias("cosine"))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    topk = (scored.withColumn("rank", F.row_number().over(wk))
                  .filter(F.col("rank") <= k))
    votes = topk.groupBy("query_id", "label") \
                .agg(F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc())
    return (votes.withColumn("vrank", F.row_number().over(wv))
                 .filter(F.col("vrank") == 1)
                 .select("query_id",
                         F.col("label").alias("predicted_label"),
                         "votes",
                         F.expr(f"votes * 1000000 div {k}")
                          .cast("bigint").alias("agreement_ppm"))
                 .orderBy("query_id"))


def sql_knn_classify(k: int = KNN_K) -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    return f"""
WITH qflat AS (
  SELECT vec_id, label, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
qnorms AS (
  SELECT vec_id, sqrt(CAST(sum(x * x) AS DOUBLE)) AS nrm
  FROM qflat GROUP BY vec_id
),
qdots AS (
  SELECT q.vec_id AS query_id, c.vec_id, any_value(c.label) AS label,
         CAST(sum(q.x * c.x) AS BIGINT) AS dot
  FROM qflat q JOIN qflat c ON q.i = c.i
  WHERE q.vec_id < {KNN_QUERIES} AND c.vec_id >= {KNN_QUERIES}
  GROUP BY q.vec_id, c.vec_id
),
topk AS (
  SELECT query_id, label FROM (
    SELECT d.query_id, d.label,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY CAST(d.dot AS DOUBLE) / (nc.nrm * nq.nrm) DESC,
                      d.vec_id ASC) AS rank
    FROM qdots d
    JOIN qnorms nc ON d.vec_id = nc.vec_id
    JOIN qnorms nq ON d.query_id = nq.vec_id
  ) WHERE rank <= {k}
),
votes AS (
  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
  FROM topk GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, votes,
       CAST(votes * 1000000 // {k} AS BIGINT) AS agreement_ppm
FROM (
  SELECT query_id, label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label ASC) AS vrank
  FROM votes
)
WHERE vrank = 1
ORDER BY query_id"""


# --- Hybrid retrieval: reciprocal-rank fusion of BM25 + dense cosine ---------
# The production retrieval stack for LLM data work is hybrid: a sparse
# lexical leg (BM25) and a dense embedding leg, fused by reciprocal-rank
# fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
#   RRF(d) = sum_legs 1 / (C + rank_leg(d)),  C = 60.
# Ranks come from the two ALREADY-verified legs — q_text_bm25_topk (sparse)
# and cosine_topk_df (dense, query_id 0, vec_id == doc_id by corpus
# construction) — so fusion determinism reduces to leg determinism: both
# 1/(C+r) terms are exact IEEE divisions of small ints added in a fixed
# order, identical in both engines.

RRF_C = 60
RRF_TOP_K = 10
RRF_DENSE_QUERY = 0  # the dense leg's query vector (vec_id)


def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str,
                        k: int = RRF_TOP_K) -> DataFrame:
    """RRF fusion of the BM25 top-20 and the cosine top-10 for query 0.

    Scale shape: each leg is its own top-k-bounded distributed pipeline
    (posting-list cut + TakeOrderedAndProject for BM25; broadcast-query
    corpus scan + per-query WindowGroupLimit for cosine).  The fusion
    itself joins two <= k-row frames — cost independent of corpus size, so
    the 100 TB story is exactly the legs' story.  The rank window over the
    20-row sparse leg rides a constant-but-non-foldable partition key (the
    vocab_df device) to stay off the unpartitioned-window path.
    """
    from . import text as _text

    sparse = _text.q_text_bm25_topk(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc())
    sparse_r = (sparse.withColumn("sparse_rank",
                                  F.row_number().over(w).cast("int"))
                      .select("doc_id", "sparse_rank"))
    dense_r = (cosine_topk_df(spark, sf_dir)
               .filter(F.col("query_id") == RRF_DENSE_QUERY)
               .select(F.col("neighbor_id").alias("doc_id"),
                       F.col("rank").alias("dense_rank")))
    fused = sparse_r.join(dense_r, "doc_id", "full_outer")
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(float(RRF_C))
                                    + F.col("sparse_rank")), F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(float(RRF_C))
                                      + F.col("dense_rank")), F.lit(0.0)))
    return (fused.select("doc_id", "sparse_rank", "dense_rank",
                         F.round(rrf, 9).alias("rrf"))
                 .orderBy(F.col("rrf").desc(), F.col("doc_id"))
                 .limit(k))


def sql_search_hybrid_rrf(k: int = RRF_TOP_K) -> str:
    from . import text as _text

    bm25 = _text.sql_text_bm25_topk().strip()
    dense = sql_cosine_topk().strip()
    return f"""
WITH sparse AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
           AS sparse_rank
  FROM ({bm25})
),
dense AS (
  SELECT neighbor_id AS doc_id, rank AS dense_rank
  FROM ({dense}) WHERE query_id = {RRF_DENSE_QUERY}
)
SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
       s.sparse_rank, d.dense_rank,
       round(coalesce(1.0 / ({float(RRF_C)!r} + s.sparse_rank), 0.0)
             + coalesce(1.0 / ({float(RRF_C)!r} + d.dense_rank), 0.0), 9)
         AS rrf
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
ORDER BY rrf DESC, coalesce(s.doc_id, d.doc_id)
LIMIT {k}"""


# --- Contrastive training-pair mining ----------------------------------------
# Embedding-model training data: for each query vector, POSITIVES are its
# exact cosine top-k (hard positives from the already-verified dense leg)
# and NEGATIVES are a deterministic pseudo-random draw from the rest of
# the corpus (Knuth multiplicative hash keyed by (query, candidate), so
# the "random" negatives are reproducible and oracle-checkable — the
# q_sample_stratified device applied to pair construction).

PAIR_POS_K = 5
PAIR_NEG_K = 10
PAIR_KNUTH = 2_654_435_761
PAIR_QMIX = 1_000_003     # decorrelates the draw across queries


def q_sample_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, is_pos, rnk): top-PAIR_POS_K positives + the
    PAIR_NEG_K hash-smallest negatives per query.

    Scale shape: positives ride the existing top-k pipeline; negatives
    need NO similarity computation at all — one corpus projection computes
    the pair hash, a broadcast anti-join removes the bounded positive set,
    and a per-query WindowGroupLimit keeps the k hash-smallest.  The
    exchange carries O(queries x k), not the corpus.
    """
    pos = (cosine_topk_df(spark, sf_dir, k=PAIR_POS_K)
           .select("query_id", F.col("neighbor_id").alias("cand_id"),
                   F.lit(True).alias("is_pos"),
                   F.col("rank").alias("rnk")))
    e = embeddings_df(spark, sf_dir).select("vec_id")
    q = (e.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("query_id")))
    h = F.expr(f"pmod((cand_id + query_id * {PAIR_QMIX}) * {PAIR_KNUTH}, "
               f"4294967296)")
    cand = (e.select(F.col("vec_id").alias("cand_id"))
             .crossJoin(F.broadcast(q))
             .filter(F.col("cand_id") != F.col("query_id"))
             .join(F.broadcast(pos.select("query_id", "cand_id")),
                   ["query_id", "cand_id"], "left_anti")
             .withColumn("h", h))
    wneg = Window.partitionBy("query_id").orderBy("h", "cand_id")
    neg = (cand.withColumn("rnk", F.row_number().over(wneg))
               .filter(F.col("rnk") <= PAIR_NEG_K)
               .select("query_id", "cand_id", F.lit(False).alias("is_pos"),
                       F.col("rnk").cast("int").alias("rnk")))
    return (pos.unionByName(neg)
               .orderBy("query_id", F.col("is_pos").desc(), "rnk"))


def sql_sample_contrastive_pairs() -> str:
    dense = sql_cosine_topk(k=PAIR_POS_K).strip()
    return f"""
WITH pos AS (
  SELECT query_id, neighbor_id AS cand_id, TRUE AS is_pos, rank AS rnk
  FROM ({dense})
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ((c.vec_id + q.vec_id * {PAIR_QMIX}) * {PAIR_KNUTH})
           % 4294967296 AS h
  FROM embeddings c CROSS JOIN (SELECT vec_id FROM embeddings
                                WHERE vec_id < {N_QUERIES}) q
  WHERE c.vec_id <> q.vec_id
    AND NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.query_id = q.vec_id AND p.cand_id = c.vec_id)
),
neg AS (
  SELECT query_id, cand_id, FALSE AS is_pos, CAST(rnk AS INT) AS rnk
  FROM (SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY h, cand_id) AS rnk
        FROM cand)
  WHERE rnk <= {PAIR_NEG_K}
)
SELECT * FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
ORDER BY query_id, is_pos DESC, rnk"""


# --- Retrieval evaluation metrics --------------------------------------------
# The eval harness every ANN variant needs: per query, compare an
# APPROXIMATE top-k list (here the LSH-bucketed variant) against the
# exact cosine ground truth — recall@k, MRR and first-hit rank as exact
# ppm integers (no float metric math, so the oracle is bitwise).
#   recall_ppm = |approx ∩ exact| * 1e6 div k
#   mrr_ppm    = 1e6 div (rank in APPROX list of the best exact hit), 0 if none

def q_search_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query: recall@k and MRR of q_ann_lsh against cosine_topk_df.

    Scale shape: both inputs are k-row-per-query bounded frames (their
    own pipelines carry the scale story); the metric join is
    O(queries x k) with a per-query aggregate — evaluation cost is
    independent of corpus size.
    """
    exact = (cosine_topk_df(spark, sf_dir)
             .select("query_id", F.col("neighbor_id").alias("nid"),
                     F.col("rank").alias("exact_rank")))
    approx = (q_ann_lsh(spark, sf_dir)
              .select("query_id", F.col("neighbor_id").alias("nid"),
                      F.col("rank").alias("approx_rank")))
    hits = exact.join(approx, ["query_id", "nid"])
    per_q = (hits.groupBy("query_id")
                 .agg(F.count(F.lit(1)).alias("n_hits"),
                      F.min(F.when(F.col("exact_rank") == 1,
                                   F.col("approx_rank"))).alias("first_rank")))
    qids = (embeddings_df(spark, sf_dir)
            .filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id")))
    return (qids.join(per_q, "query_id", "left")
                .select(
                    "query_id",
                    F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
                    F.expr(f"coalesce(n_hits, 0) * 1000000 div {TOP_K}")
                     .alias("recall_ppm"),
                    F.expr("CASE WHEN first_rank IS NULL THEN 0 "
                           "ELSE 1000000 div first_rank END")
                     .cast("bigint").alias("mrr_ppm"))
                .orderBy("query_id"))


def sql_search_eval_metrics() -> str:
    exact = sql_cosine_topk().strip()
    approx = sql_ann_lsh().strip()
    return f"""
WITH exact_l AS (
  SELECT query_id, neighbor_id AS nid, rank AS exact_rank FROM ({exact})
),
approx_l AS (
  SELECT query_id, neighbor_id AS nid, rank AS approx_rank FROM ({approx})
),
hits AS (
  SELECT e.query_id, e.nid, e.exact_rank, a.approx_rank
  FROM exact_l e JOIN approx_l a USING (query_id, nid)
),
per_q AS (
  SELECT query_id, count(*) AS n_hits,
         min(CASE WHEN exact_rank = 1 THEN approx_rank END) AS first_rank
  FROM hits GROUP BY query_id
)
SELECT q.vec_id AS query_id,
       CAST(coalesce(p.n_hits, 0) AS INT) AS n_hits,
       CAST(coalesce(p.n_hits, 0) * 1000000 // {TOP_K} AS BIGINT)
         AS recall_ppm,
       CAST(CASE WHEN p.first_rank IS NULL THEN 0
                 ELSE 1000000 // p.first_rank END AS BIGINT) AS mrr_ppm
FROM (SELECT vec_id FROM embeddings WHERE vec_id < {N_QUERIES}) q
LEFT JOIN per_q p ON p.query_id = q.vec_id
ORDER BY query_id"""


# --- kNN label-noise audit ---------------------------------------------------
# Cleanlab-style mislabel detection (Northcutt et al. 2021, simplified to
# its kNN-disagreement core): a labeled example whose nearest neighbors
# mostly carry a DIFFERENT label is a labeling-error candidate — the
# audit every labeled training set runs before fine-tuning.  Same
# int8-exact cosine kNN contract as q_knn_classify (exact integer dots,
# one IEEE division, integer vote); the verdict fraction is an exact
# ppm floor division, so the flag is hash-stable.
#
# Scale: the probe slice is bounded per pass (full-corpus audits run as
# successive slices or via the dedup_semantic SRP-cell bound); corpus
# streams through one WindowGroupLimit top-k per probe.

NOISE_PROBES = 50
NOISE_K = 10
NOISE_FLAG_PPM = 500_000      # flag when a strict majority disagrees


def q_knn_label_noise(spark: SparkSession, sf_dir: str,
                      k: int = NOISE_K) -> DataFrame:
    e = quantized_df(spark, sf_dir)
    probes = (e.filter(F.col("vec_id") < NOISE_PROBES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("own_label"),
                       F.col("qvec").alias("quvec")))
    pairs = (domain.fan_out(e).crossJoin(F.broadcast(probes))
                  .filter(F.col("vec_id") != F.col("query_id")))
    idot = F.aggregate(F.zip_with(F.col("qvec"), F.col("quvec"),
                                  lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    inorm = lambda a: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double"))
    cos = idot.cast("double") / (inorm(F.col("qvec")) * inorm(F.col("quvec")))
    scored = pairs.select("query_id", "own_label", "vec_id", "label",
                          cos.alias("cosine"))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    topk = (scored.withColumn("rank", F.row_number().over(wk))
                  .filter(F.col("rank") <= k))
    return (topk.groupBy("query_id", "own_label")
                .agg(F.expr("CAST(sum(CASE WHEN label <> own_label "
                            "THEN 1 ELSE 0 END) AS BIGINT)")
                      .alias("n_disagree"))
                .select(F.col("query_id").alias("vec_id"),
                        F.col("own_label").alias("label"),
                        "n_disagree",
                        F.expr(f"n_disagree * 1000000 div {k}")
                         .cast("bigint").alias("noise_ppm"),
                        F.expr(f"n_disagree * 1000000 div {k} "
                               f">= {NOISE_FLAG_PPM}").alias("flagged"))
                .orderBy("vec_id"))


def sql_knn_label_noise(k: int = NOISE_K) -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    return f"""
WITH qflat AS (
  SELECT vec_id, label, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
qnorms AS (
  SELECT vec_id, sqrt(CAST(sum(x * x) AS DOUBLE)) AS nrm
  FROM qflat GROUP BY vec_id
),
qdots AS (
  SELECT q.vec_id AS query_id, any_value(q.label) AS own_label,
         c.vec_id, any_value(c.label) AS label,
         CAST(sum(q.x * c.x) AS BIGINT) AS dot
  FROM qflat q JOIN qflat c ON q.i = c.i
  WHERE q.vec_id < {NOISE_PROBES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
topk AS (
  SELECT query_id, own_label, label FROM (
    SELECT d.query_id, d.own_label, d.label,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY CAST(d.dot AS DOUBLE) / (nc.nrm * nq.nrm) DESC,
                      d.vec_id ASC) AS rank
    FROM qdots d
    JOIN qnorms nc ON d.vec_id = nc.vec_id
    JOIN qnorms nq ON d.query_id = nq.vec_id
  ) WHERE rank <= {k}
)
SELECT query_id AS vec_id, own_label AS label,
       CAST(sum(CASE WHEN label <> own_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_disagree,
       CAST(sum(CASE WHEN label <> own_label THEN 1 ELSE 0 END)
            * 1000000 // {k} AS BIGINT) AS noise_ppm,
       (sum(CASE WHEN label <> own_label THEN 1 ELSE 0 END)
        * 1000000 // {k}) >= {NOISE_FLAG_PPM} AS flagged
FROM topk
GROUP BY query_id, own_label
ORDER BY vec_id"""


# --- ANN recall-vs-probe-radius curve ----------------------------------------
# The index-tuning readout every vector store publishes: recall@k as the
# probe set widens.  Cells are INTEGER sign-random-projection codes over
# the int8 vectors (projections are exact integer dots, so the cell
# assignment — unlike KMeans — is engine-neutral and the whole curve is
# hash-exact); probing at radius r admits every cell within Hamming
# distance r of the query's code.  recall_ppm is measured against the
# exact int8-cosine top-k computed in the same frame.
#
# Scale: the radius explode multiplies the per-query CANDIDATE stream,
# not the corpus (candidates at radius r are the r-ball's occupancy);
# the per-(radius, query) windows are probe-bounded; the exact leg is
# the certification scaffold and runs on the same bounded probe slice.

RC_BITS = 6
RC_RADII = (0, 1, 2)
RC_K = 10


def _rc_plane_component(j: int, d: int) -> int:
    """Deterministic integer plane component in [-3, 3] (distinct stream
    from _plane_component / _band_plane)."""
    return ((j * 149 + d * 23) % 7) - 3


def _rc_code_expr(qvec):
    code = F.lit(0).cast("long")
    for j in range(RC_BITS):
        plane = F.array(*[F.lit(_rc_plane_component(j, d)).cast("long")
                          for d in range(DIM)])
        proj = F.aggregate(F.zip_with(qvec, plane, lambda x, p: x * p),
                           F.lit(0).cast("long"), lambda acc, x: acc + x)
        code = code + F.when(proj > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return code


def q_ann_recall_curve(spark: SparkSession, sf_dir: str,
                       k: int = RC_K) -> DataFrame:
    e = quantized_df(spark, sf_dir).withColumn(
        "code", _rc_code_expr(F.col("qvec")))
    probes = (e.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qvec").alias("quvec"),
                       F.col("code").alias("qcode")))
    pairs = (domain.fan_out(e).crossJoin(F.broadcast(probes))
                  .filter(F.col("vec_id") != F.col("query_id")))
    idot = F.aggregate(F.zip_with(F.col("qvec"), F.col("quvec"),
                                  lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    inorm = lambda a: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double"))
    cos = idot.cast("double") / (inorm(F.col("qvec")) * inorm(F.col("quvec")))
    scored = pairs.select(
        "query_id", "vec_id", cos.alias("cosine"),
        F.expr("bit_count(code ^ qcode)").alias("ham"))
    # r12 (guide §2.4): single pass over `scored`.  The exact top-k rank
    # is computed BEFORE the radius explode so it rides every exploded
    # candidate row; a recall hit is then just (arank <= k AND
    # xrank <= k) — no exact-vs-approx join, and the expensive
    # cross-join dot-product frame is computed once instead of three
    # times (exact leg, approx leg, candidate-count leg).  The arank
    # window's (radius, query_id) clustering is subset-satisfied by the
    # xrank window's hash(query_id) partitioning, so the explode adds no
    # exchange.
    wx = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    ranked = scored.withColumn("xrank", F.row_number().over(wx))
    probed = (ranked.withColumn(
                  "radius", F.explode(F.array(*[F.lit(r)
                                                for r in RC_RADII])))
                    .filter(F.col("ham") <= F.col("radius")))
    wp = Window.partitionBy("radius", "query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    stats = (probed.withColumn("arank", F.row_number().over(wp))
                   .groupBy("radius")
                   .agg(F.count(F.lit(1)).cast("bigint")
                         .alias("n_cand_pairs"),
                        F.sum(F.when((F.col("arank") <= k)
                                     & (F.col("xrank") <= k), 1)
                               .otherwise(0)).cast("bigint")
                         .alias("n_hits")))
    radii = spark.range(len(RC_RADII)).selectExpr(
        f"CAST(element_at(array{RC_RADII}, CAST(id + 1 AS INT)) AS INT)"
        " AS radius")
    return (radii.join(F.broadcast(stats), "radius", "left")
                 .na.fill(0, ["n_cand_pairs", "n_hits"])
                 .select(F.col("radius").cast("int").alias("radius"),
                         F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                         "n_cand_pairs", "n_hits",
                         F.expr(f"n_hits * 1000000 div {N_QUERIES * k}")
                          .cast("bigint").alias("recall_ppm"))
                 .orderBy("radius"))


def sql_ann_recall_curve(k: int = RC_K) -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    radii_rows = ", ".join(f"({r})" for r in RC_RADII)
    return f"""
WITH qflat AS (
  SELECT vec_id, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
projs AS (
  SELECT f.vec_id, j.j,
         CAST(sum(f.x * (((j.j * 149 + (f.i - 1) * 23) % 7) - 3))
              AS BIGINT) AS proj
  FROM qflat f, (SELECT unnest(generate_series(0, {RC_BITS - 1})) AS j) j
  GROUP BY f.vec_id, j.j
),
codes AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN proj > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
           AS code
  FROM projs GROUP BY vec_id
),
qnorms AS (
  SELECT vec_id, sqrt(CAST(sum(x * x) AS DOUBLE)) AS nrm
  FROM qflat GROUP BY vec_id
),
qdots AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         CAST(sum(q.x * c.x) AS BIGINT) AS dot
  FROM qflat q JOIN qflat c ON q.i = c.i
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (nc.nrm * nq.nrm) AS cosine,
         bit_count(xor(cc.code, cq.code)) AS ham
  FROM qdots d
  JOIN qnorms nc ON d.vec_id = nc.vec_id
  JOIN qnorms nq ON d.query_id = nq.vec_id
  JOIN codes cc ON d.vec_id = cc.vec_id
  JOIN codes cq ON d.query_id = cq.vec_id
),
exact AS (
  SELECT query_id, vec_id AS hit_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS xrank
    FROM scored
  ) WHERE xrank <= {k}
),
probed AS (
  SELECT r.radius, s.query_id, s.vec_id, s.cosine
  FROM scored s JOIN (VALUES {radii_rows}) r(radius)
    ON s.ham <= r.radius
),
approx AS (
  SELECT radius, query_id, vec_id FROM (
    SELECT radius, query_id, vec_id,
           row_number() OVER (PARTITION BY radius, query_id
                              ORDER BY cosine DESC, vec_id ASC) AS arank
    FROM probed
  ) WHERE arank <= {k}
),
hits AS (
  SELECT a.radius, CAST(count(*) AS BIGINT) AS n_hits
  FROM approx a JOIN exact e
    ON a.query_id = e.query_id AND a.vec_id = e.hit_id
  GROUP BY a.radius
),
cand AS (
  SELECT radius, CAST(count(*) AS BIGINT) AS n_cand_pairs
  FROM probed GROUP BY radius
)
SELECT CAST(r.radius AS INT) AS radius,
       CAST({N_QUERIES} AS BIGINT) AS n_queries,
       CAST(coalesce(c.n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {N_QUERIES * k} AS BIGINT)
         AS recall_ppm
FROM (VALUES {radii_rows}) r(radius)
LEFT JOIN cand c ON r.radius = c.radius
LEFT JOIN hits h ON r.radius = h.radius
ORDER BY radius"""


# --- Class-separability diagnostics (integer Fisher-style ratio) -------------
# Which embedding dimensions actually separate the label classes — the
# feature-quality readout run before training a probe/classifier on
# frozen embeddings (high between-class scatter over within-class
# scatter = discriminative axis).  Works on the SHIFTED int8 values
# x' = q + 127 >= 0 so every division below is on non-negative integers
# (Spark div == DuckDB // there) while means/variances are shift-
# invariant; scatter terms are exact integers in milli^2 units with
# DECIMAL(38,0) widening, so the whole top-10 ranking is hash-exact —
# a float Fisher ratio would make the ranking engine-dependent.
#
# Scale: per-(label, dim) cells aggregate map-side (|labels| x DIM rows
# out of any corpus size); everything after is bounded-frame arithmetic.

SEP_TOP_DIMS = 10


def q_embedding_class_separation(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    e = quantized_df(spark, sf_dir)
    cells = (e.select("label", F.posexplode("qvec").alias("d", "q"))
              .select("label", "d", (F.col("q") + 127).alias("x"))
              .groupBy("label", "d")
              .agg(F.count(F.lit(1)).cast("long").alias("n_l"),
                   F.sum("x").cast("long").alias("s_l"),
                   F.sum(F.expr("x * x")).cast("long").alias("q_l")))
    grand = (cells.groupBy("d")
                  .agg(F.sum("n_l").cast("long").alias("n"),
                       F.sum("s_l").cast("long").alias("s")))
    dec = "DECIMAL(38,0)"
    per_cell = (cells.join(F.broadcast(grand), "d")
        .select("d",
                # class/grand means in exact milli units (non-negative)
                F.expr("s_l * 1000 div n_l").alias("m_l"),
                F.expr("s * 1000 div n").alias("m"),
                "n_l", "s_l", "q_l")
        .select("d",
                F.expr(f"CAST(n_l AS {dec}) * (m_l - m) * (m_l - m)")
                 .alias("b_term"),
                F.expr(f"(CAST(n_l AS {dec}) * q_l - CAST(s_l AS {dec})"
                       " * s_l) * 1000000 div n_l").alias("w_term")))
    return (per_cell.groupBy("d")
        .agg(F.expr(f"CAST(sum(b_term) AS {dec})").alias("b_dec"),
             F.expr(f"CAST(sum(w_term) AS {dec})").alias("w_dec"))
        .select(F.col("d").cast("int").alias("dim"),
                F.expr("CAST(b_dec AS BIGINT)").alias("between_milli2"),
                F.expr("CAST(w_dec AS BIGINT)").alias("within_milli2"),
                F.expr("CAST(b_dec * 1000000 div greatest(w_dec, CAST(1 AS "
                       f"{dec})) AS BIGINT)").alias("fisher_ppm"))
        .orderBy(F.col("fisher_ppm").desc(), F.col("dim"))
        .limit(SEP_TOP_DIMS))


def sql_embedding_class_separation() -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT) + 127")
    return f"""
WITH qflat AS (
  SELECT vec_id, label, i - 1 AS d, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
cells AS (
  SELECT label, d, CAST(count(*) AS BIGINT) AS n_l,
         CAST(sum(x) AS BIGINT) AS s_l,
         CAST(sum(x * x) AS BIGINT) AS q_l
  FROM qflat GROUP BY label, d
),
grand AS (
  SELECT d, CAST(sum(n_l) AS BIGINT) AS n, CAST(sum(s_l) AS BIGINT) AS s
  FROM cells GROUP BY d
),
per_cell AS (
  SELECT c.d,
         CAST(c.n_l AS HUGEINT)
           * (c.s_l * 1000 // c.n_l - g.s * 1000 // g.n)
           * (c.s_l * 1000 // c.n_l - g.s * 1000 // g.n) AS b_term,
         (CAST(c.n_l AS HUGEINT) * c.q_l
          - CAST(c.s_l AS HUGEINT) * c.s_l) * 1000000 // c.n_l AS w_term
  FROM cells c JOIN grand g ON c.d = g.d
)
SELECT CAST(d AS INT) AS dim,
       CAST(sum(b_term) AS BIGINT) AS between_milli2,
       CAST(sum(w_term) AS BIGINT) AS within_milli2,
       CAST(sum(b_term) * 1000000 // greatest(sum(w_term), 1) AS BIGINT)
         AS fisher_ppm
FROM per_cell
GROUP BY d
ORDER BY fisher_ppm DESC, dim
LIMIT {SEP_TOP_DIMS}"""


# --- Hard-negative mining for contrastive training ---------------------------
# The retrieval-training complement of q_sample_contrastive_pairs: that
# query draws RANDOM negatives; the pairs that actually move a model are
# the HARD ones — highest-cosine neighbors carrying a DIFFERENT label
# (in-batch semi-hard mining, Schroff et al. 2015).  Same int8-exact
# kNN contract; the different-label filter runs BEFORE the rank window,
# so the top-M is the true hardest set, not a post-filtered one.

HN_PROBES = 20
HN_M = 3


def q_sample_hard_negatives(spark: SparkSession, sf_dir: str,
                            m: int = HN_M) -> DataFrame:
    e = quantized_df(spark, sf_dir)
    probes = (e.filter(F.col("vec_id") < HN_PROBES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("anchor_label"),
                       F.col("qvec").alias("quvec")))
    pairs = (domain.fan_out(e).crossJoin(F.broadcast(probes))
                  .filter((F.col("vec_id") != F.col("query_id"))
                          & (F.col("label") != F.col("anchor_label"))))
    idot = F.aggregate(F.zip_with(F.col("qvec"), F.col("quvec"),
                                  lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    inorm = lambda a: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, x: acc + x).cast("double"))
    cos = idot.cast("double") / (inorm(F.col("qvec")) * inorm(F.col("quvec")))
    scored = pairs.select("query_id", "anchor_label", "vec_id", "label",
                          cos.alias("cosine"))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("neg_rank", F.row_number().over(wk))
                  .filter(F.col("neg_rank") <= m)
                  .select("query_id", "anchor_label",
                          F.col("neg_rank").cast("int").alias("neg_rank"),
                          F.col("vec_id").alias("neg_id"),
                          F.col("label").alias("neg_label"),
                          F.round("cosine", 6).alias("cosine"))
                  .orderBy("query_id", "neg_rank"))


def sql_sample_hard_negatives(m: int = HN_M) -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    return f"""
WITH qflat AS (
  SELECT vec_id, label, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
qnorms AS (
  SELECT vec_id, sqrt(CAST(sum(x * x) AS DOUBLE)) AS nrm
  FROM qflat GROUP BY vec_id
),
qdots AS (
  SELECT q.vec_id AS query_id, any_value(q.label) AS anchor_label,
         c.vec_id, any_value(c.label) AS label,
         CAST(sum(q.x * c.x) AS BIGINT) AS dot
  FROM qflat q JOIN qflat c ON q.i = c.i
  WHERE q.vec_id < {HN_PROBES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, anchor_label, CAST(neg_rank AS INT) AS neg_rank,
       vec_id AS neg_id, label AS neg_label, round(cosine, 6) AS cosine
FROM (
  SELECT d.query_id, d.anchor_label, d.vec_id, d.label,
         CAST(d.dot AS DOUBLE) / (nc.nrm * nq.nrm) AS cosine,
         row_number() OVER (
           PARTITION BY d.query_id
           ORDER BY CAST(d.dot AS DOUBLE) / (nc.nrm * nq.nrm) DESC,
                    d.vec_id ASC) AS neg_rank
  FROM qdots d
  JOIN qnorms nc ON d.vec_id = nc.vec_id
  JOIN qnorms nq ON d.query_id = nq.vec_id
  WHERE d.label <> d.anchor_label
)
WHERE neg_rank <= {m}
ORDER BY query_id, neg_rank"""


# --- Cohen's kappa of the kNN classifier vs gold labels ----------------------
# Chance-corrected agreement between q_knn_classify's predictions and
# the gold labels on the probe slice — the eval statistic that exposes
# "high accuracy by majority class" (kappa ~ 0 there).  Exact integer
# form:  kappa = (agree * n - SUM_l row_l * col_l)
#              / (n * n      - SUM_l row_l * col_l)
# reported as ppm; the numerator can be NEGATIVE (worse-than-chance),
# which is safe because Spark's `div` and DuckDB's integer `//` BOTH
# truncate toward zero (runtime-verified; the old repo assumption that
# DuckDB floors is wrong on this pair) — plain quotients match exactly.

def q_eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = (embeddings_df(spark, sf_dir)
            .filter(F.col("vec_id") < KNN_QUERIES)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("label").alias("gold_label")))
    pred = q_knn_classify(spark, sf_dir).select("query_id",
                                                "predicted_label")
    j = pred.join(F.broadcast(gold), "query_id")
    rows_m = (j.groupBy("gold_label")
               .agg(F.count(F.lit(1)).cast("long").alias("row_n")))
    cols_m = (j.groupBy("predicted_label")
               .agg(F.count(F.lit(1)).cast("long").alias("col_n")))
    pe = (rows_m.join(cols_m,
                      rows_m.gold_label == cols_m.predicted_label)
                .agg(F.sum(F.expr("row_n * col_n")).cast("long")
                      .alias("rowcol")))
    base = j.agg(F.count(F.lit(1)).cast("long").alias("n_eval"),
                 F.expr("CAST(sum(CASE WHEN predicted_label = gold_label "
                        "THEN 1 ELSE 0 END) AS BIGINT)").alias("n_agree"))
    return (base.crossJoin(F.broadcast(pe))
                .select("n_eval", "n_agree", "rowcol",
                        F.expr("CAST((n_agree * n_eval - rowcol) * 1000000 "
                               "div (n_eval * n_eval - rowcol) AS BIGINT)")
                         .alias("kappa_ppm")))


def sql_eval_cohens_kappa() -> str:
    return f"""
WITH pred AS ({sql_knn_classify()}),
j AS (
  SELECT p.query_id, p.predicted_label, e.label AS gold_label
  FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
),
rows_m AS (SELECT gold_label, CAST(count(*) AS BIGINT) AS row_n
           FROM j GROUP BY gold_label),
cols_m AS (SELECT predicted_label, CAST(count(*) AS BIGINT) AS col_n
           FROM j GROUP BY predicted_label),
pe AS (SELECT CAST(sum(r.row_n * c.col_n) AS BIGINT) AS rowcol
       FROM rows_m r JOIN cols_m c ON r.gold_label = c.predicted_label),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN predicted_label = gold_label
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM j
)
SELECT b.n_eval, b.n_agree, p.rowcol,
       CAST((b.n_agree * b.n_eval - p.rowcol) * 1000000
            // (b.n_eval * b.n_eval - p.rowcol) AS BIGINT) AS kappa_ppm
FROM base b, pe p"""


# --- Farthest-point-sampling coreset -----------------------------------------
# k-center coreset selection (Gonzalez 1985; the geometric backbone of
# "diverse subset" data selection): greedily pick the vector farthest
# from everything selected so far.  Distances are exact integer squared
# euclidean over the int8 vectors, so each round's argmax — and hence
# the ENTIRE selection trajectory — is engine-deterministic with a
# (dist DESC, vec_id ASC) tie-break.
#
# Scale: each round is one full-corpus min-update + one 1-row argmax
# (a bounded-scalar collect, the bpe_train / graph-convergence
# pattern); rounds are the coreset size, a constant.  The DuckDB
# oracle unrolls the same rounds as chained CTEs over a pairwise
# distance table cut to candidate rows.

FPS_ROUNDS = 6               # centers selected AFTER the seed (vec 0)
FPS_SEED_ID = 0


def q_sample_coreset_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = quantized_df(spark, sf_dir).select("vec_id", "qvec")
    d2_to = lambda center: F.aggregate(  # noqa: E731
        F.zip_with(F.col("qvec"),
                   F.array(*[F.lit(int(c)).cast("long") for c in center]),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    seed = e.filter(F.col("vec_id") == FPS_SEED_ID).collect()[0].qvec
    state = e.filter(F.col("vec_id") != FPS_SEED_ID) \
             .select("vec_id", "qvec", d2_to(seed).alias("mind"))
    picked = []
    for rnd in range(1, FPS_ROUNDS + 1):
        state = state.localCheckpoint(eager=True)   # truncate lineage
        top = (state.orderBy(F.col("mind").desc(), F.col("vec_id").asc())
                    .limit(1).collect()[0])
        picked.append((rnd, top.vec_id, int(top.mind)))
        state = (state.filter(F.col("vec_id") != top.vec_id)
                      .select("vec_id", "qvec",
                              F.least("mind", d2_to(top.qvec))
                               .alias("mind")))
    rows = [(0, FPS_SEED_ID, 0)] + picked
    return domain.local_frame(
        spark, rows, "sel_round INT, center_id BIGINT, dist2_to_set BIGINT")


def sql_sample_coreset_fps() -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    # every CTE is MATERIALIZED: the m/c chain references its
    # predecessor more than once, and inlining would re-expand `dists`
    # exponentially through the rounds (observed: >30 GB of DuckDB
    # spill before the fix)
    ctes = [f"""qflat AS MATERIALIZED (
  SELECT vec_id, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
dists AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
  FROM qflat a JOIN qflat b ON a.i = b.i AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
m0 AS MATERIALIZED (
  SELECT vb AS vec_id, d2 AS mind FROM dists WHERE va = {FPS_SEED_ID}
)"""]
    sel = [f"SELECT 0 AS sel_round, CAST({FPS_SEED_ID} AS BIGINT) "
           "AS center_id, CAST(0 AS BIGINT) AS dist2_to_set"]
    for r in range(1, FPS_ROUNDS + 1):
        prev, cur = f"m{r - 1}", f"m{r}"
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT vec_id, mind FROM {prev}
  ORDER BY mind DESC, vec_id ASC LIMIT 1
)""")
        sel.append(f"SELECT {r}, vec_id, mind FROM c{r}")
        if r < FPS_ROUNDS:
            ctes.append(f"""{cur} AS MATERIALIZED (
  SELECT p.vec_id, least(p.mind, d.d2) AS mind
  FROM {prev} p
  JOIN dists d ON d.va = (SELECT vec_id FROM c{r})
              AND d.vb = p.vec_id
  WHERE p.vec_id <> (SELECT vec_id FROM c{r})
)""")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(sel) + "\nORDER BY sel_round")


# --- int8 quantization-error profile (round 7) ---------------------------------
# The other half of the quantized_df story: before shipping the 4x
# smaller int8 vectors, the pipeline certifies what the quantization
# COSTS — per-label reconstruction-error stats (bias, mean absolute,
# worst-case, MSE) of q/127 against the original coordinate.  The error
# of each (vector, dim) cell is rounded ONCE into exact micro-units
# (floor((x - q/127)*1e6) — a fixed chain of correctly-rounded IEEE ops
# both engines evaluate identically), and everything downstream is
# integer.  One explode + one map-side-combined aggregate; DECIMAL(38,0)
# keeps the squared sums exact at any corpus size.

def q_embedding_quantization_error(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    e = embeddings_df(spark, sf_dir)
    ex = e.select("label", F.posexplode("vec").alias("d", "x"))
    err_u = ("CAST(floor((x - round(least(greatest(x, -1.0D), 1.0D)"
             " * 127, 0) / 127.0D) * 1000000) AS BIGINT)")
    dec = "DECIMAL(38,0)"
    cells = ex.select("label", F.expr(err_u).alias("e_u"))
    return (cells.groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vals"),
                 F.sum("e_u").cast("bigint").alias("bias_sum_u"),
                 F.sum(F.abs(F.col("e_u"))).cast("bigint")
                  .alias("abs_sum_u"),
                 F.max(F.abs(F.col("e_u"))).cast("bigint")
                  .alias("max_abs_u"),
                 F.expr(f"CAST(sum(CAST(e_u AS {dec}) * e_u) AS {dec})")
                  .alias("sq"))
            .select("label", "n_vals", "bias_sum_u", "abs_sum_u",
                    "max_abs_u",
                    F.expr("CAST(sq div n_vals AS BIGINT)")
                     .alias("mse_p12"))
            .orderBy("label"))


def sql_embedding_quantization_error() -> str:
    err_u = ("CAST(floor((x - round(least(greatest(x, -1.0), 1.0)"
             " * 127) / 127.0) * 1000000) AS BIGINT)")
    return f"""
WITH cells AS (
  SELECT label, {err_u} AS e_u
  FROM (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings)
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(sum(e_u) AS BIGINT) AS bias_sum_u,
       CAST(sum(abs(e_u)) AS BIGINT) AS abs_sum_u,
       CAST(max(abs(e_u)) AS BIGINT) AS max_abs_u,
       CAST(sum(CAST(e_u AS HUGEINT) * e_u) // count(*) AS BIGINT)
         AS mse_p12
FROM cells
GROUP BY label
ORDER BY label"""


# --- per-label norm profile + degenerate-vector gate (round 7) ------------------
# Embedding sanity profiling: per-label squared-norm summary over the
# int8-quantized vectors (exact integer norms — the quantized_df
# contract), plus a count of "low-norm" vectors below HALF the global
# mean — the standard symptom of empty/degenerate inputs reaching the
# encoder.  Per-label aggregate + a 1-row global broadcast; no window,
# no sort.

def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = quantized_df(spark, sf_dir)
    norm2 = F.aggregate(F.transform(F.col("qvec"), lambda x: x * x),
                        F.lit(0).cast("long"), lambda a, x: a + x)
    v = e.select("label", norm2.alias("norm2"))
    g = v.agg(F.expr("CAST(sum(norm2) * 1000 div count(*) AS BIGINT)")
               .alias("g_mean_milli"))
    return (v.crossJoin(F.broadcast(g))
             .groupBy("label")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                  F.min("norm2").cast("bigint").alias("min_norm2"),
                  F.max("norm2").cast("bigint").alias("max_norm2"),
                  F.expr("CAST(sum(norm2) * 1000 div count(*) AS BIGINT)")
                   .alias("mean_norm2_milli"),
                  F.sum(F.expr("CASE WHEN norm2 * 2000 < g_mean_milli"
                               " THEN 1 ELSE 0 END")).cast("bigint")
                   .alias("n_low"))
             .orderBy("label"))


def sql_embedding_norm_profile() -> str:
    qx = ("CAST(round(least(greatest(CAST(x AS DOUBLE), -1.0), 1.0)"
          " * 127) AS BIGINT)")
    return f"""
WITH q AS (
  SELECT vec_id, label, sum(qq * qq) AS norm2
  FROM (SELECT vec_id, label, {qx} AS qq
        FROM (SELECT vec_id, label, unnest(embedding) AS x
              FROM embeddings))
  GROUP BY vec_id, label
),
g AS (SELECT CAST(sum(norm2) * 1000 // count(*) AS BIGINT)
        AS g_mean_milli FROM q)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(norm2) AS BIGINT) AS min_norm2,
       CAST(max(norm2) AS BIGINT) AS max_norm2,
       CAST(sum(norm2) * 1000 // count(*) AS BIGINT) AS mean_norm2_milli,
       CAST(sum(CASE WHEN norm2 * 2000 < g.g_mean_milli THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low
FROM q, g
GROUP BY label, g.g_mean_milli
ORDER BY label"""


# --- Triplet-violation rate (round 7) --------------------------------------------
# The metric-learning sanity gate: for deterministic (anchor, positive,
# negative) triplets — positive = the next vec_id with the anchor's
# label, negative = the next vec_id with a different label — how often
# does cos(a,n) beat cos(a,p)?  A healthy labeled embedding space keeps
# the violation rate low; a collapsed or mislabeled one doesn't.
#
# Exactness: cosines are never materialized.  cos(a,p) < cos(a,n)
# <=>  dot_ap * |n| < dot_an * |p|   (|a| > 0 cancels), decided in
# exact integer arithmetic by sign cases + one squared comparison
# (dot^2 * norm2 products, DECIMAL(38,0) — int8 dots are <= 2^24, so
# squares x norm2 stay ~2^62, and HUGEINT mirrors it).
#
# Triplet assembly (rebuilt r8 after a 4.6x sf-curve flag): "next
# same-label id" / "next other-label id" were per-label equi-joins —
# sum(n_label^2) and an n x n theta join, QUADRATIC in the corpus.
# Now a two-phase block escalation (the geo_knn_grid device): an
# anchor probes only the candidates in its own and the next
# TRIPLET_BLOCK-wide id block (an equi-join on block id, fan-out
# O(n x block) — linear); any pick found there is provably the global
# minimum, because every id between the anchor and an in-horizon pick
# lies inside the horizon.  Only anchors with NO in-horizon pick (an
# empty id run or a label absent from two blocks) ride the old
# quadratic join — a left-anti-bounded residual that is empty on
# balanced labels.  Measured at sf1: 3.9s -> 1.4s, 10x-rows ratio
# 4.56x -> 1.05x, output hash-identical.  The DuckDB oracle keeps the
# plain-join formulation (physical, not semantic, decomposition).

TRIPLET_BLOCK = 128


def q_embedding_triplet_violations(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    e = quantized_df(spark, sf_dir)
    norm2 = F.aggregate(F.transform(F.col("qvec"), lambda x: x * x),
                        F.lit(0).cast("long"), lambda a, x: a + x)
    v = e.select("vec_id", "label", "qvec", norm2.alias("n2"))
    a = v.select(F.col("vec_id").alias("aid"),
                 F.col("label").alias("alabel"),
                 F.col("qvec").alias("aq"))
    B = TRIPLET_BLOCK
    ids = v.select("vec_id", "label")
    anch = ids.select(F.col("vec_id").alias("aid"),
                      F.col("label").alias("alabel"))
    cand = ids.select(F.col("vec_id").alias("cid"),
                      F.col("label").alias("clabel"),
                      F.expr(f"vec_id div {B}").alias("cblk"))
    probe = anch.select(
        "aid", "alabel",
        F.explode(F.expr(f"array(aid div {B}, aid div {B} + 1)"))
         .alias("cblk"))
    fine = (probe.join(cand, "cblk")
                 .filter(F.col("cid") > F.col("aid")))

    def _pick(pred, out):
        got = (fine.filter(pred)
                   .groupBy("aid").agg(F.min("cid").alias(out)))
        # residual: anchors with no in-horizon pick fall back to the
        # exact full join (empty on balanced labels; bounded by the
        # anti-join either way)
        rest = (anch.join(got, "aid", "left_anti")
                    .join(ids.select(F.col("vec_id").alias("cid"),
                                     F.col("label").alias("clabel")),
                          F.col("cid") > F.col("aid"))
                    .filter(pred)
                    .groupBy("aid").agg(F.min("cid").alias(out)))
        return got.unionByName(rest)

    pos_pick = _pick(F.col("clabel") == F.col("alabel"), "pid")
    neg_pick = _pick(F.col("clabel") != F.col("alabel"), "nid")
    t = (a.join(pos_pick, "aid").join(neg_pick, "aid")
          .join(v.select(F.col("vec_id").alias("pid"),
                         F.col("qvec").alias("pq"),
                         F.col("n2").alias("p_n2")), "pid")
          .join(v.select(F.col("vec_id").alias("nid"),
                         F.col("qvec").alias("nq"),
                         F.col("n2").alias("n_n2")), "nid"))
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(F.col(x), F.col(y), lambda u, w: u * w),
        F.lit(0).cast("long"), lambda acc, z: acc + z)
    dec = "DECIMAL(38,0)"
    scored = t.select(
        "aid", "alabel",
        dot("aq", "pq").alias("dap"), dot("aq", "nq").alias("dan"),
        "p_n2", "n_n2")
    # violation := cos(a,p) < cos(a,n)  <=>  dap * |n| < dan * |p|
    viol = F.expr(f"""CASE
        WHEN dap >= 0 AND dan < 0 THEN false
        WHEN dap < 0 AND dan >= 0 THEN true
        WHEN dap >= 0 AND dan >= 0 THEN
          CAST(dap AS {dec}) * dap * n_n2 < CAST(dan AS {dec}) * dan * p_n2
        ELSE
          CAST(dap AS {dec}) * dap * n_n2 > CAST(dan AS {dec}) * dan * p_n2
        END""")
    return (scored.select("alabel", viol.alias("v"))
            .groupBy(F.col("alabel").alias("label"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_triplets"),
                 F.sum(F.when(F.col("v"), 1).otherwise(0)).cast("bigint")
                  .alias("n_violations"))
            .withColumn("violation_ppm", F.expr(
                "CAST(n_violations * 1000000 div n_triplets AS BIGINT)"))
            .orderBy("label"))


def sql_embedding_triplet_violations() -> str:
    qx = ("CAST(round(least(greatest(CAST(x AS DOUBLE), -1.0), 1.0)"
          " * 127) AS BIGINT)")
    return f"""
WITH q AS (
  SELECT vec_id, label,
         list(qq ORDER BY i) AS qvec,
         CAST(sum(qq * qq) AS BIGINT) AS n2
  FROM (SELECT vec_id, label, i, {qx} AS qq
        FROM (SELECT vec_id, label, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings))
  GROUP BY vec_id, label
),
pos_pick AS (
  SELECT a.vec_id AS aid, min(p.vec_id) AS pid
  FROM q a JOIN q p ON p.label = a.label AND p.vec_id > a.vec_id
  GROUP BY 1
),
neg_pick AS (
  SELECT a.vec_id AS aid, min(n.vec_id) AS nid
  FROM q a JOIN q n ON n.label <> a.label AND n.vec_id > a.vec_id
  GROUP BY 1
),
t AS (
  SELECT a.vec_id AS aid, a.label AS alabel,
         CAST(list_sum(list_transform(list_zip(a.qvec, p.qvec),
              z -> z[1] * z[2])) AS BIGINT) AS dap,
         CAST(list_sum(list_transform(list_zip(a.qvec, n.qvec),
              z -> z[1] * z[2])) AS BIGINT) AS dan,
         p.n2 AS p_n2, n.n2 AS n_n2
  FROM q a
  JOIN pos_pick pp ON pp.aid = a.vec_id
  JOIN neg_pick np ON np.aid = a.vec_id
  JOIN q p ON p.vec_id = pp.pid
  JOIN q n ON n.vec_id = np.nid
),
scored AS (
  SELECT alabel,
         CASE
           WHEN dap >= 0 AND dan < 0 THEN false
           WHEN dap < 0 AND dan >= 0 THEN true
           WHEN dap >= 0 AND dan >= 0 THEN
             CAST(dap AS HUGEINT) * dap * n_n2
               < CAST(dan AS HUGEINT) * dan * p_n2
           ELSE
             CAST(dap AS HUGEINT) * dap * n_n2
               > CAST(dan AS HUGEINT) * dan * p_n2
         END AS v
  FROM t
)
SELECT alabel AS label,
       CAST(count(*) AS BIGINT) AS n_triplets,
       CAST(sum(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       CAST(sum(CASE WHEN v THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS violation_ppm
FROM scored
GROUP BY 1
ORDER BY 1"""


# --- Diagonal-Mahalanobis embedding outliers (round 9) --------------------------
# Embedding-certification family: the top-MAHA_K vectors by squared
# Mahalanobis distance under a DIAGONAL covariance — the cheap,
# dimension-wise whitened outlier score batch curation uses to quarantine
# encoder glitches (all-zero rows, saturated dims, wrong-normalization
# batches) before they poison ANN cells or kmeans seeds.
#
# Exactness: with integer per-dim sums over the int8-quantized grid,
# (x - mu)^2 / sigma^2 == (n*x - sx)^2 / (n*sxx - sx^2) exactly (the n^2
# cancels), so each dim contributes ONE truncated milli-ratio, identical
# in both engines; DECIMAL(38,0)/HUGEINT guards the squared numerator
# (n*x is ~1.3e10 at 1e8 vectors; its square overflows BIGINT).
#
# Scale shape: one posexplode pass feeds ONLY the 64-row dim-stats
# aggregate (map-side combine collapses it to DIM rows per partition);
# the stats come back as a single broadcast row of DIM-aligned arrays
# and the score is a zip_with/aggregate fold over the original qvec —
# the corpus is scanned twice but never exploded through an exchange,
# and the second pass emits one row per vector straight into the
# TakeOrdered top-MAHA_K (never a full sort).  Per-dim contributions
# are integers, so the fold order is irrelevant and the output is
# bit-identical to the exploded formulation the oracle keeps.

MAHA_K = 100


def q_embedding_maha_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = quantized_df(spark, sf_dir)
    stats = (e.select(F.posexplode("qvec").alias("i", "x"))
              .groupBy("i")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.sum("x").cast("bigint").alias("sx"),
                   F.sum(F.expr("x * x")).cast("bigint").alias("sxx")))
    srow = stats.agg(
        F.array_sort(F.collect_list(F.struct("i", "n", "sx", "sxx")))
         .alias("st"))
    dec = "DECIMAL(38,0)"
    score = F.expr(
        "aggregate(zip_with(qvec, st, (x, s) ->"
        f" CAST(CAST(s.n * x - s.sx AS {dec}) * (s.n * x - s.sx) * 1000"
        f"      div greatest(CAST(s.n AS {dec}) * s.sxx"
        f"                   - CAST(s.sx AS {dec}) * s.sx, 1)"
        "       AS BIGINT)),"
        " 0L, (acc, c) -> acc + c)")
    # fan_out: the fold is ~DIM integer ops per row — CPU far beyond
    # the scan bytes, so an undersplit local parquet would pin the
    # pass to 1-2 cores (the trigram-profile lesson; no-op on
    # well-split cluster inputs)
    from .. import domain
    return (domain.fan_out(e).crossJoin(F.broadcast(srow))
             .select("vec_id", F.col("label").cast("int").alias("label"),
                     score.alias("maha2_milli"))
             .orderBy(F.col("maha2_milli").desc(),
                      F.col("vec_id").asc())
             .limit(MAHA_K))


def sql_embedding_maha_diag() -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i + 1] AS DOUBLE),"
          " -1.0), 1.0) * 127) AS BIGINT)")
    return f"""
WITH qflat AS (
  SELECT vec_id, label, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(0, {DIM - 1})) AS i)
),
stats AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM qflat GROUP BY 1
),
scored AS (
  SELECT q.vec_id, q.label,
         sum(CAST(s.n * q.x - s.sx AS HUGEINT) * (s.n * q.x - s.sx) * 1000
             // greatest(CAST(s.n AS HUGEINT) * s.sxx
                         - CAST(s.sx AS HUGEINT) * s.sx, 1)) AS m
  FROM qflat q JOIN stats s USING (i)
  GROUP BY 1, 2
)
SELECT vec_id, CAST(label AS INT) AS label, CAST(m AS BIGINT) AS maha2_milli
FROM scored
ORDER BY maha2_milli DESC, vec_id
LIMIT {MAHA_K}"""


# --- ANN cell-occupancy balance (round 9) ---------------------------------------
# Index-health readout for every cell-bucketed device in this module
# (SRP cells, IVF lists, LSH bands): the occupancy histogram of the
# band-0 SRP cell assignment over the real corpus, bucketed by
# log2(cell size).  A healthy index has its vector mass spread across
# many mid-sized cells; mass pooling in a few huge cells (the top
# log2 buckets) is exactly the skew that turns the in-cell pair scans
# of dedup_semantic / the cell-probe joins of ann_ivf into hot
# partitions at 100 TB.
#
# Scale shape: the signature pass is the linear Arrow matmul scan
# (band_signatures_df — no shuffle); occupancy is a keyed aggregate on
# the bounded 2^16 cell key; the histogram re-aggregates the bounded
# cell table.  Corpus appears exactly once.

def q_embedding_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT fan_out: measured A/B at sf0.1/sf1 showed the repartition +
    # extra Arrow worker batches cost MORE than the widened matmul
    # saves at both scales (0.55s -> 1.59s / 1.11s -> 1.50s) — the
    # vectorized signature matmul is cheap per row, unlike the
    # trigram/maha per-element folds where fan_out pays.
    e = embeddings_df(spark, sf_dir)
    cells = (band_signatures_df(e)
             .filter(F.col("band") == 0)
             .groupBy("sig")
             .agg(F.count(F.lit(1)).cast("bigint").alias("sz")))
    tot = cells.agg(F.sum("sz").cast("bigint").alias("n_vecs_total"))
    return (cells.groupBy(F.expr("CAST(floor(log2(sz)) AS BIGINT)")
                           .alias("size_log2"))
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"),
                      F.sum("sz").cast("bigint").alias("n_vecs"),
                      F.max("sz").cast("bigint").alias("max_cell"))
                 .crossJoin(F.broadcast(tot))
                 .select("size_log2", "n_cells", "n_vecs", "max_cell",
                         F.expr("CAST(n_vecs * 1000000 div n_vecs_total"
                                " AS BIGINT)").alias("vec_share_ppm"))
                 .orderBy("size_log2"))


def sql_embedding_cell_balance() -> str:
    return f"""
WITH qflat AS (
  SELECT vec_id, i,
         CAST(round(least(greatest(CAST(embedding[i + 1] AS DOUBLE),
                                   -1.0), 1.0) * 127) AS BIGINT) AS qx
  FROM embeddings, (SELECT unnest(generate_series(0, {DIM - 1})) AS i)
),
planes AS (
  SELECT js.j, ds.d,
         ((js.j * 73856093 + ds.d * 19349663) % 131) % 7 - 3 AS p
  FROM (SELECT unnest(generate_series(0, {BAND_BITS - 1})) AS j) js,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS d) ds
),
proj AS (
  SELECT q.vec_id, pl.j, CAST(sum(q.qx * pl.p) AS BIGINT) AS pr
  FROM qflat q JOIN planes pl ON q.i = pl.d
  GROUP BY q.vec_id, pl.j
),
cells AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS sz FROM (
    SELECT vec_id,
           CAST(sum(CASE WHEN pr > 0
                         THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
             AS cell
    FROM proj GROUP BY vec_id)
  GROUP BY 1
),
tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n_vecs_total FROM cells)
SELECT CAST(floor(log2(sz)) AS BIGINT) AS size_log2,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(sz) AS BIGINT) AS n_vecs,
       CAST(max(sz) AS BIGINT) AS max_cell,
       CAST(sum(sz) * 1000000 // max(t.n_vecs_total) AS BIGINT)
         AS vec_share_ppm
FROM cells, tot t
GROUP BY 1
ORDER BY 1"""


# --- Per-source embedding centroid drift (round 10) ----------------------------
# The embedding-space twin of events_psi_drift: per SOURCE (documents
# joined 1:1 on vec_id = doc_id), the squared distance between the
# source's centroid and the global centroid, in exact integer
# micro-units over the int8-quantized grid.  A crawler source whose
# embedding mass wanders (format change, spam injection, language
# shift) shows here before any downstream dedup/ANN index degrades —
# the per-source drift alarm a 100 TB ingest pipeline pages on.
#
# Exactness: per-dim centroid coordinates are floor(1e6 * sx / n)
# computed as a floored DOUBLE ratio (sx can be negative; Spark `div`
# truncates while DuckDB `//` floors, so integer division is NOT
# engine-portable here — the ml_calibration device; exact while
# |sx| * 1e6 < 2^53, i.e. to ~7e7 vectors per source at |q| <= 127).
# The drift is then an exact BIGINT sum of squared micro-unit deltas
# (<= DIM * (254e6)^2 ~ 4.1e18, inside int64).
#
# Scale shape: ONE posexplode + map-side-combined groupBy collapses
# the corpus to (source, dim) grain — bounded by |sources| * DIM — and
# the global centroid re-aggregates that bounded table; the join back
# is a broadcast of DIM rows.  The corpus is scanned once; nothing
# all-pairs, nothing corpus-sized after the first aggregate.

def q_embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import docs_df
    q = quantized_df(spark, sf_dir)
    src = docs_df(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "source")
    per = (q.join(src, "vec_id")
            .select("source", F.posexplode("qvec").alias("i", "x"))
            .groupBy("source", "i")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_s"),
                 F.sum("x").cast("bigint").alias("sx_s")))
    glob = (per.groupBy("i")
               .agg(F.sum("n_s").cast("bigint").alias("n_g"),
                    F.sum("sx_s").cast("bigint").alias("sx_g")))
    mean_mu = ("CAST(floor(CAST({sx} AS DOUBLE) * 1000000 / {n}) "
               "AS BIGINT)")
    d = (per.join(F.broadcast(glob), "i")
            .select("source", "n_s",
                    (F.expr(mean_mu.format(sx="sx_s", n="n_s"))
                     - F.expr(mean_mu.format(sx="sx_g", n="n_g")))
                    .alias("dmu")))
    return (d.groupBy("source")
             .agg(F.max("n_s").cast("bigint").alias("n_vecs"),
                  F.sum(F.expr("dmu * dmu")).cast("bigint")
                   .alias("drift_mu2"))
             .orderBy("source"))


def sql_embedding_source_drift() -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i + 1] AS DOUBLE),"
          " -1.0), 1.0) * 127) AS BIGINT)")
    return f"""
WITH qflat AS (
  SELECT e.vec_id, d.source, g.i, {qx} AS x
  FROM embeddings e
  JOIN documents d ON e.vec_id = d.doc_id,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS i) g
),
per AS (
  SELECT source, i, CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(x) AS BIGINT) AS sx_s
  FROM qflat GROUP BY 1, 2
),
gtot AS (
  SELECT i, CAST(sum(n_s) AS BIGINT) AS n_g,
         CAST(sum(sx_s) AS BIGINT) AS sx_g
  FROM per GROUP BY 1
),
d AS (
  SELECT p.source, p.n_s,
         CAST(floor(CAST(p.sx_s AS DOUBLE) * 1000000 / p.n_s) AS BIGINT)
         - CAST(floor(CAST(t.sx_g AS DOUBLE) * 1000000 / t.n_g) AS BIGINT)
           AS dmu
  FROM per p JOIN gtot t USING (i)
)
SELECT source,
       CAST(max(n_s) AS BIGINT) AS n_vecs,
       CAST(sum(dmu * dmu) AS BIGINT) AS drift_mu2
FROM d
GROUP BY source
ORDER BY source"""


# --- Matryoshka truncation recall (round 11) ----------------------------------
# The MRL eval (Kusupati et al. 2022): how much retrieval quality
# survives truncating embeddings to a dimension prefix?  Serving at
# 100 TB wants the SHORTEST prefix that holds recall — a d/64 prefix
# cuts index bytes and dot-product work by 64/d — and this query is the
# audit that picks it: for each dim in MRL_DIMS and each probe query,
# top-K by prefix-cosine (prefix-renormalized, the MRL contract) and
# its recall against the full-dimension top-K.
#
# Exactness rides the int8 device (quantized_df): prefix dots and
# squared norms are exact integers, cosine is one final double
# division — identical in both engines, so rankings (ties by vec_id)
# agree bitwise.  Scale shape: ONE corpus x probes broadcast cross
# join scores all prefixes per pair (slices of the same array — no
# second scan per dim); rank <= K over (dim, query) windows triggers
# the WindowGroupLimit map-side truncation; the recall join runs on
# the <= |dims| x |queries| x K checkpointed result, never the corpus.

MRL_DIMS = [8, 16, 32, DIM]


@domain.checkpointed("mrl_ranked_frame")
def _mrl_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked frame: top-K per (dim, query) by prefix-cosine over one
    broadcast corpus x probes pass.  (#queries x #dims x TOP_K) rows —
    query-set-proportional, so it is session-scoped rather than pinned
    afresh on every invocation (ADVICE r11)."""
    e = quantized_df(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("qvec").alias("quvec")))
    pairs = domain.fan_out(e).crossJoin(F.broadcast(q)) \
                 .filter(F.col("vec_id") != F.col("query_id"))

    def pref_cos(d: int):
        a, b = F.slice("qvec", 1, d), F.slice("quvec", 1, d)
        idot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0).cast("long"), lambda acc, x: acc + x)
        n2 = lambda v: F.aggregate(  # noqa: E731
            F.transform(v, lambda x: x * x),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        return idot.cast("double") / (
            F.sqrt(n2(a).cast("double")) * F.sqrt(n2(b).cast("double")))

    scored = pairs.select(
        "query_id", "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("dim"), pref_cos(d).alias("cosine"))
            for d in MRL_DIMS])).alias("dc")) \
        .select("query_id", "vec_id", F.col("dc.dim").alias("dim"),
                F.col("dc.cosine").alias("cosine"))
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= TOP_K)
                  .select("dim", "query_id", "vec_id"))


def q_embedding_matryoshka_recall(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    ranked = _mrl_ranked(spark, sf_dir)
    truth = (ranked.filter(F.col("dim") == DIM)
                   .select(F.col("query_id").alias("t_query"),
                           F.col("vec_id").alias("t_vec")))
    hits = (ranked.join(F.broadcast(truth),
                        (F.col("query_id") == F.col("t_query"))
                        & (F.col("vec_id") == F.col("t_vec")))
                  .groupBy("dim", "query_id")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits")))
    # a zero-recall (dim, query) cell must appear as 0, not vanish from
    # the inner join (no silent caps)
    grid = ranked.select("dim", "query_id").distinct()
    out = (grid.join(hits, ["dim", "query_id"], "left")
               .withColumn("n_hits", F.coalesce("n_hits",
                                                F.lit(0).cast("bigint"))))
    return (out.select(
                F.col("dim").cast("int").alias("dim"), "query_id",
                "n_hits",
                F.expr(f"CAST(n_hits * 1000000 div {TOP_K} AS BIGINT)")
                 .alias("recall_ppm"))
               .orderBy("dim", "query_id"))


def sql_embedding_matryoshka_recall() -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    dims = ", ".join(str(d) for d in MRL_DIMS)
    return f"""
WITH qflat AS (
  SELECT vec_id, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
dgrid AS (SELECT unnest([{dims}]) AS dim),
pnorms AS (
  SELECT vec_id, dim, sqrt(CAST(sum(x * x) AS DOUBLE)) AS nrm
  FROM qflat JOIN dgrid ON qflat.i <= dgrid.dim
  GROUP BY vec_id, dim
),
pdots AS (
  SELECT q.vec_id AS query_id, c.vec_id, g.dim,
         CAST(sum(q.x * c.x) AS BIGINT) AS dot
  FROM qflat q
  JOIN qflat c ON q.i = c.i
  JOIN dgrid g ON q.i <= g.dim
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id, g.dim
),
ranked AS (
  SELECT dim, query_id, vec_id,
         row_number() OVER (PARTITION BY dim, query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM (
    SELECT d.dim, d.query_id, d.vec_id,
           CAST(d.dot AS DOUBLE) / (nc.nrm * nq.nrm) AS cosine
    FROM pdots d
    JOIN pnorms nc ON d.vec_id = nc.vec_id AND d.dim = nc.dim
    JOIN pnorms nq ON d.query_id = nq.vec_id AND d.dim = nq.dim
  )
),
topk AS (SELECT dim, query_id, vec_id FROM ranked WHERE rank <= {TOP_K}),
truth AS (SELECT query_id, vec_id FROM topk WHERE dim = {DIM}),
hits AS (
  SELECT k.dim, k.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM topk k JOIN truth t
    ON k.query_id = t.query_id AND k.vec_id = t.vec_id
  GROUP BY k.dim, k.query_id
),
grid AS (SELECT DISTINCT dim, query_id FROM topk)
SELECT CAST(g.dim AS INT) AS dim, g.query_id AS query_id,
       coalesce(h.n_hits, 0) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {TOP_K} AS BIGINT)
         AS recall_ppm
FROM grid g LEFT JOIN hits h
  ON g.dim = h.dim AND g.query_id = h.query_id
ORDER BY dim, g.query_id"""


# --- Incremental IVF index maintenance audit (round 12) -----------------------
# The 100 TB nightly story for embeddings, closing the loop
# batch_scores_incremental opened for scores: an IVF index maintains
# per-cell sufficient statistics (count, element-wise vector sum); a
# fresh nightly batch is assigned to the EXISTING centroids, its
# partials MERGE into the cell stats (the same IVM algebra as the
# nightly scoring merge), and the updated means answer the operational
# question "rebuild the index, or just update it?" — measured here as
# (a) how far each centroid moved (integer squared L2) and (b) what
# fraction of the already-indexed corpus would land in a DIFFERENT cell
# under the updated centroids (the recall-decay proxy).  A reassignment
# fraction near zero says the nightly batch can ride stat-merges for
# another cycle; a large one schedules the full Lloyd rebuild.
#
# Exactness: everything rides the int8 device OFFSET to [0, 254]
# (x+127), so element-wise sums are nonnegative BIGINTs, the mean is an
# unambiguous integer division, and L2^2 distances — shift-invariant,
# so assignments match the unoffset space — are exact integers in both
# engines; ties break toward the smaller cell id in both rankings.
# Seed centroids are closed-form (element-wise mean of the vec_id % K
# shard of the base corpus), so the DuckDB oracle replays the whole
# maintenance step exactly — no self-certification needed, unlike the
# iterative-KMeans ANN rows.
#
# Scale shape: centroid frames are K x DIM longs (tiny, broadcast);
# both assignment passes are corpus x K broadcast cross joins with a
# WindowGroupLimit argmin per vec_id — never corpus x corpus; the
# stats merge is one map-side-combined aggregate per pass.

IVF_INC_CELLS = 8
IVF_INC_FRESH_MOD = 10       # vec_id % 10 == 7 is tonight's batch


def _ivf_inc_assign(vecs: DataFrame, cent: DataFrame,
                    out: str) -> DataFrame:
    """argmin_j L2^2(v, centroid_j), ties to the smaller cell id; every
    input column is carried through (so a reassignment pass can keep the
    prior cell as payload instead of joining back to the corpus)."""
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cvec"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    p = (domain.fan_out(vecs).crossJoin(F.broadcast(cent))
         .withColumn("_d2", d2))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_d2").asc(), F.col("cell").asc())
    return (p.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1)
             .withColumn(out, F.col("cell"))
             .drop("cell", "cvec", "_d2", "_rn"))


def _ivf_inc_cell_means(assigned: DataFrame, cell_col: str) -> DataFrame:
    """Element-wise per-cell (sum, n) sufficient stats in long form."""
    longf = assigned.select(
        F.col(cell_col).alias("cell"),
        F.posexplode("v").alias("i", "x"))
    return (longf.groupBy("cell", "i")
                 .agg(F.sum("x").cast("long").alias("sx"),
                      F.count(F.lit(1)).cast("long").alias("n")))


def _ivf_inc_to_array(stats: DataFrame) -> DataFrame:
    """(cell, i, c) long form -> (cell, cvec array) via order-pinned
    collect_list (array_sort on the (i, c) struct sorts by i)."""
    return (stats.groupBy("cell")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("i", "c"))),
                     lambda s: s["c"]).alias("cvec")))


@domain.memo_plan
def _ivf_inc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v) offset-int8 corpus; one plan per session, shared by
    every frame of the index state."""
    return quantized_df(spark, sf_dir).select(
        "vec_id", F.transform("qvec", lambda x: x + 127).alias("v"))


def _ivf_inc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_inc_vectors(spark, sf_dir).filter(
        F.col("vec_id") % IVF_INC_FRESH_MOD != 7)


@domain.checkpointed("ivf_inc_seed_frame")
def _ivf_inc_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed centroid long form: element-wise mean of the vec_id % K
    shard of the base corpus."""
    base = _ivf_inc_base(spark, sf_dir)
    return _ivf_inc_cell_means(
        base.select((F.col("vec_id") % IVF_INC_CELLS).alias("shard"), "v"),
        "shard").select("cell", "i", F.expr("sx div n").alias("c"))


@domain.memo_plan
def _ivf_inc_cent0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_inc_to_array(_ivf_inc_seed(spark, sf_dir))


@domain.checkpointed("ivf_inc_assign_frame")
def _ivf_inc_base_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base corpus assigned to the seed centroids."""
    return _ivf_inc_assign(_ivf_inc_base(spark, sf_dir),
                           _ivf_inc_cent0(spark, sf_dir), "cell0")


def _ivf_inc_state(spark: SparkSession, sf_dir: str) -> dict:
    """The maintained index state, materialized ONCE per (session,
    sf_dir): seed centroid long form, base/fresh assignments under the
    seed centroids, and the post-merge centroid long form.  The seed
    frame feeds FOUR plan branches and each assignment two, so without
    checkpoints every branch re-runs the corpus aggregate (the r11
    pHash/winnowing redundant-recompute class); the assignment frames
    are corpus-proportional, so every checkpoint is session-scoped
    (ADVICE r11).  At a real deployment the assignment table IS the IVF
    index's persisted state — pinning it is the semantics, not an
    optimization."""
    c0 = _ivf_inc_seed(spark, sf_dir)
    abase = _ivf_inc_base_cells(spark, sf_dir)

    def build():
        fresh = _ivf_inc_vectors(spark, sf_dir).filter(
            F.col("vec_id") % IVF_INC_FRESH_MOD == 7)
        afresh = _ivf_inc_assign(fresh, _ivf_inc_cent0(spark, sf_dir),
                                 "cell0").localCheckpoint(eager=True)
        # merge the fresh batch's partials into the index stats (the
        # IVM step); a cell with no members keeps its seed centroid
        sb = _ivf_inc_cell_means(abase, "cell0")
        sf_ = _ivf_inc_cell_means(afresh, "cell0")
        merged = (sb.join(F.broadcast(
                      sf_.withColumnRenamed("sx", "fx")
                         .withColumnRenamed("n", "fn")),
                          ["cell", "i"], "left")
                    .select("cell", "i",
                            (F.col("sx") + F.coalesce("fx", F.lit(0)))
                            .alias("sx"),
                            (F.col("n") + F.coalesce("fn", F.lit(0)))
                            .alias("n")))
        c1 = (c0.withColumnRenamed("c", "c0")
                .join(F.broadcast(
                    merged.select("cell", "i",
                                  F.expr("sx div n").alias("c1"))),
                      ["cell", "i"], "left")
                .select("cell", "i", F.coalesce("c1", "c0").alias("c"))
                .localCheckpoint(eager=True))
        return afresh, c1
    afresh, c1 = domain.session_memo(spark, "ivf_inc_state", sf_dir, build)
    return {"c0": c0, "abase": abase, "afresh": afresh, "c1": c1}


def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _ivf_inc_state(spark, sf_dir)
    # reassignment audit: cell0 rides through as payload, so no join
    # back to the corpus is ever needed
    abase1 = _ivf_inc_assign(st["abase"],
                             _ivf_inc_to_array(st["c1"]), "cell1")
    moved = (abase1.groupBy("cell0")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_base"),
                        F.sum(F.when(F.col("cell1") != F.col("cell0"), 1)
                               .otherwise(0)).cast("bigint")
                         .alias("n_moved")))
    nf = (st["afresh"].groupBy("cell0")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_fresh")))
    shift = (st["c0"].withColumnRenamed("c", "ca")
             .join(F.broadcast(st["c1"].withColumnRenamed("c", "cb")),
                   ["cell", "i"])
             .groupBy("cell")
             .agg(F.sum((F.col("ca") - F.col("cb"))
                        * (F.col("ca") - F.col("cb")))
                   .cast("long").alias("shift_sq")))
    return (shift.join(F.broadcast(moved),
                       shift["cell"] == moved["cell0"], "left")
                 .join(F.broadcast(nf), shift["cell"] == nf["cell0"],
                       "left")
                 .select(shift["cell"].cast("int").alias("cell"),
                         F.coalesce("n_base", F.lit(0)).cast("bigint")
                          .alias("n_base"),
                         F.coalesce("n_fresh", F.lit(0)).cast("bigint")
                          .alias("n_fresh"),
                         F.col("shift_sq").cast("bigint")
                          .alias("shift_sq"),
                         F.coalesce("n_moved", F.lit(0)).cast("bigint")
                          .alias("n_moved"),
                         F.expr("CAST(CASE WHEN coalesce(n_base, 0) = 0 "
                                "THEN 0 ELSE coalesce(n_moved, 0) "
                                "* 1000000 div n_base END AS BIGINT)")
                          .alias("moved_ppm"))
                 .orderBy("cell"))


def sql_ann_ivf_incremental() -> str:
    K, M = IVF_INC_CELLS, IVF_INC_FRESH_MOD
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT) + 127")
    return f"""
WITH flat AS (
  SELECT vec_id, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, {DIM})) AS i)
),
base AS (SELECT * FROM flat WHERE vec_id % {M} != 7),
fresh AS (SELECT * FROM flat WHERE vec_id % {M} = 7),
cent0 AS (
  SELECT CAST(vec_id % {K} AS BIGINT) AS cell, i,
         sum(x) // count(*) AS c
  FROM base GROUP BY 1, i
),
d0b AS (
  SELECT b.vec_id, c.cell, sum((b.x - c.c) * (b.x - c.c)) AS d2
  FROM base b JOIN cent0 c USING (i) GROUP BY 1, 2
),
abase AS (
  SELECT vec_id, cell AS cell0 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cell) AS rn
    FROM d0b) WHERE rn = 1
),
d0f AS (
  SELECT f.vec_id, c.cell, sum((f.x - c.c) * (f.x - c.c)) AS d2
  FROM fresh f JOIN cent0 c USING (i) GROUP BY 1, 2
),
afresh AS (
  SELECT vec_id, cell AS cell0 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cell) AS rn
    FROM d0f) WHERE rn = 1
),
sb AS (
  SELECT a.cell0 AS cell, b.i, sum(b.x) AS sx, count(*) AS n
  FROM base b JOIN abase a USING (vec_id) GROUP BY 1, 2
),
sfr AS (
  SELECT a.cell0 AS cell, f.i, sum(f.x) AS fx, count(*) AS fn
  FROM fresh f JOIN afresh a USING (vec_id) GROUP BY 1, 2
),
cent1 AS (
  SELECT c0.cell, c0.i,
         coalesce((sb.sx + coalesce(sfr.fx, 0))
                  // (sb.n + coalesce(sfr.fn, 0)), c0.c) AS c
  FROM cent0 c0
  LEFT JOIN sb ON sb.cell = c0.cell AND sb.i = c0.i
  LEFT JOIN sfr ON sfr.cell = c0.cell AND sfr.i = c0.i
),
d1b AS (
  SELECT b.vec_id, c.cell, sum((b.x - c.c) * (b.x - c.c)) AS d2
  FROM base b JOIN cent1 c USING (i) GROUP BY 1, 2
),
abase1 AS (
  SELECT vec_id, cell AS cell1 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, cell) AS rn
    FROM d1b) WHERE rn = 1
),
moved AS (
  SELECT a.cell0, CAST(count(*) AS BIGINT) AS n_base,
         CAST(sum(CASE WHEN a1.cell1 != a.cell0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_moved
  FROM abase a JOIN abase1 a1 USING (vec_id) GROUP BY 1
),
nf AS (
  SELECT cell0, CAST(count(*) AS BIGINT) AS n_fresh
  FROM afresh GROUP BY 1
),
shift AS (
  SELECT c0.cell, CAST(sum((c0.c - c1.c) * (c0.c - c1.c)) AS BIGINT)
           AS shift_sq
  FROM cent0 c0 JOIN cent1 c1 ON c0.cell = c1.cell AND c0.i = c1.i
  GROUP BY 1
)
SELECT CAST(s.cell AS INT) AS cell,
       coalesce(m.n_base, 0) AS n_base,
       coalesce(nf.n_fresh, 0) AS n_fresh,
       s.shift_sq AS shift_sq,
       coalesce(m.n_moved, 0) AS n_moved,
       CAST(CASE WHEN coalesce(m.n_base, 0) = 0 THEN 0
                 ELSE coalesce(m.n_moved, 0) * 1000000 // m.n_base END
            AS BIGINT) AS moved_ppm
FROM shift s
LEFT JOIN moved m ON m.cell0 = s.cell
LEFT JOIN nf ON nf.cell0 = s.cell
ORDER BY cell"""
