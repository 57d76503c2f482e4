"""MLlib layer: predictive model over the scored domain + KMeans-IVF ANN.

The north-star framing maps the reference's predictive-analytics role onto
Spark MLlib.  Two components:

* ``risk_model``  — a Pipeline (type one-hot + numeric assembler ->
  LinearRegression) trained to predict the engine's own risk scores from
  route features.  This is the "learned surrogate" of the kernel pipeline:
  at 100 TB you can score new routes without the accident cross join.
* ``ivf_index`` / ``ivf_search`` — inverted-file ANN: KMeans over the
  embedding corpus picks centroids; each vector is assigned to its nearest
  centroid (the IVF cell); a query probes only its cell(s) — the scalable
  upgrade of the LSH bucketing in operators/similarity.py.

Iterative algorithms are not SQL-expressible, so the driver applies the
weaker rows-only check to these queries (documented in __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# NOTE: pyspark.ml imports live inside the functions that need them — a
# broken/absent MLlib in a consumer environment must not take down the
# __spark_entry__ import chain (only the 3 rows-only ML queries would fail).

from . import domain
from .operators import scoring
from .operators.similarity import (N_QUERIES, TOP_K, _dot, _norm,
                                   embeddings_df)

SEED = 42


def _route_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    routes = domain.routes_df(spark, sf_dir)
    locations = domain.locations_df(spark, sf_dir)
    return routes.join(F.broadcast(locations), "location_id").select(
        "route_id", "route_type", "latitude", "longitude",
        F.coalesce("elevation_m", F.lit(0.0)).alias("elevation_m"),
        F.coalesce("popularity", F.lit(0.0)).alias("popularity"),
    )


def risk_model_pipeline():
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (OneHotEncoder, StringIndexer,
                                    VectorAssembler)
    from pyspark.ml.regression import LinearRegression
    idx = StringIndexer(inputCol="route_type", outputCol="type_idx",
                        handleInvalid="keep")
    ohe = OneHotEncoder(inputCols=["type_idx"], outputCols=["type_vec"])
    asm = VectorAssembler(
        inputCols=["type_vec", "latitude", "longitude", "elevation_m",
                   "popularity"],
        outputCol="features")
    lr = LinearRegression(featuresCol="features", labelCol="risk_score",
                          predictionCol="predicted_risk", regParam=0.1)
    return Pipeline(stages=[idx, ohe, asm, lr])


def _training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joined feature/label frame, cached ONCE per (session, sf_dir).

    The label upstream is the FULL uncapped influence-scoring pipeline
    and the frame is consumed repeatedly (moment aggregate + scored
    join-back, and again by every nested caller: eval_brier_decomposition,
    ml_risk_model_cv, ml_calibration).  A per-invocation ``.cache()``
    with no unpersist pinned a NEW copy per call for the session
    lifetime (ADVICE r10); ``domain.session_memo`` keeps exactly one
    cached route-grain copy per (session, sf) and unpersists it when
    the session is collected."""
    def build():
        feats = _route_features(spark, sf_dir)
        labels = scoring.risk_scores_df(spark, sf_dir).select(
            "route_id", "risk_score")
        return feats.join(labels, "route_id").cache()
    return domain.session_memo(spark, "ml_training_frame", sf_dir, build)


def q_ml_risk_model_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib Pipeline surrogate (OneHot + LinearRegression) — the iterative
    form, kept as a pytest cross-check of the closed-form model below.
    RMSE and R2 come from ONE aggregation over the predictions (sufficient
    statistics), not two RegressionEvaluator jobs."""
    data = _training_frame(spark, sf_dir)
    model = risk_model_pipeline().fit(data)
    pred = model.transform(data)
    m = pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("risk_score").alias("sy"),
        F.sum(F.col("risk_score") * F.col("risk_score")).alias("syy"),
        F.sum((F.col("risk_score") - F.col("predicted_risk")) ** 2).alias("sse"),
    ).collect()[0]
    rmse = (m.sse / m.n) ** 0.5
    r2 = 1.0 - m.sse / (m.syy - m.sy * m.sy / m.n)
    return (pred.select("route_id", "risk_score",
                        F.round("predicted_risk", 4).alias("predicted_risk"))
                .withColumn("rmse", F.round(F.lit(rmse), 4))
                .withColumn("r2", F.round(F.lit(r2), 4))
                .orderBy("route_id"))


# --- Closed-form grouped ridge surrogate (hard DuckDB oracle) ----------------
#
# The registered ml_risk_model query.  Per route_type (7 groups), ridge
# regression of risk_score on (elevation_m, popularity) + intercept, solved
# in closed form from the normal equations via Cramer's rule on a 3x3
# system.  Why this is hash-exact against DuckDB where MLlib's LBFGS/WLS
# cannot be:
#
# * every sufficient statistic is an EXACT integer sum (first-order on
#   int64, second-order on DECIMAL(38,0)/HUGEINT — see _moment_aggs) —
#   elevation is integer-valued, popularity has 2 decimals (x100), the
#   label is the engine's own risk_score rounded to 6 decimals (x1e6) —
#   so the grouped aggregation is order-independent and bitwise-identical
#   in both engines;
# * the per-group solve is scalar double arithmetic over those identical
#   integers, written with the same expression tree on both sides, so the
#   coefficients, predictions, and per-group RMSE/R2 agree bitwise.
#
# Scale shape: one map-side-combined groupBy over routes (7 result rows),
# a broadcast join of the coefficient dim back to routes — exactly how
# ridge-on-sufficient-statistics is trained on a 1000-executor cluster.
# Reference: the predictive role of safety_algorithm.py; VERDICT r2 item 2.

RIDGE_LAMBDA = 10.0
POP_SCALE = 100          # popularity (c_acctbal) has exactly 2 decimals
LABEL_SCALE = 1_000_000  # risk_score is rounded to 6 decimals upstream


def _det3(a, b, c, d, e, f, g, h, i):
    """3x3 determinant — SAME expression tree as the SQL oracle."""
    return a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)


def _moment_aggs() -> list:
    """The ten exact sufficient-statistic aggregates over (ei, pi, yi).

    Second-order sums accumulate on DECIMAL(38,0) (HUGEINT in the
    oracle), NOT BIGINT: yi is the micro-unit label of the UNCAPPED
    influence sum, which grows with corpus size, so sum(yi*yi) rides
    ~n * risk^2 — it blew past int64 at sf0.1 (caught by the late-r9
    cross-SF bit-exact audit; ANSI mode made it a hard error, not a
    silent wrap), and ei*yi / pi*yi follow at ~100x.  The per-row
    product is computed in decimal too (yi^2 alone can exceed int64).
    First-order sums stay BIGINT: linear in n, safe by range.  Both
    engines convert the exact integer statistic to double once, in
    the unscale step — identical correctly-rounded conversions.

    The per-row product is cast to DECIMAL(38,0) EXPLICITLY (ADVICE
    r9): decimal(19,0) * bigint does widen to (38,0) under Spark's
    multiply rule, but the product (yi^2 ~ 1.6e19 at sf0.1) does not
    fit decimal(19,0) itself, so correctness must not hinge on the
    implicit promotion surviving a refactor or a type-rule change."""
    ei, pi, yi = F.col("ei"), F.col("pi"), F.col("yi")
    dec = "decimal(19,0)"
    wide = "decimal(38,0)"
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("ei").alias("s1"), F.sum("pi").alias("s2"),
        F.sum((ei.cast(dec) * ei).cast(wide)).alias("s11"),
        F.sum((pi.cast(dec) * pi).cast(wide)).alias("s22"),
        F.sum((ei.cast(dec) * pi).cast(wide)).alias("s12"),
        F.sum("yi").alias("sy0"),
        F.sum((ei.cast(dec) * yi).cast(wide)).alias("s1y"),
        F.sum((pi.cast(dec) * yi).cast(wide)).alias("s2y"),
        F.sum((yi.cast(dec) * yi).cast(wide)).alias("syy0"),
    ]


def q_ml_risk_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `data` is consumed TWICE (the moment aggregate AND the final
    # scored join-back), and the label upstream is the FULL uncapped
    # influence-scoring pipeline — without a cache the whole scoring
    # run executes twice per query (caught by eval_brier_decomposition's
    # first sf1 curve).  _training_frame supplies the session-memoized
    # cached copy (ADVICE r10: one pin per session, not per call).
    data = _training_frame(spark, sf_dir)
    data = data.select(
        "route_id", "route_type", "elevation_m", "popularity", "risk_score",
        F.col("elevation_m").cast("long").alias("ei"),
        F.round(F.col("popularity") * POP_SCALE, 0).cast("long").alias("pi"),
        F.round(F.col("risk_score") * LABEL_SCALE, 0).cast("long").alias("yi"),
    )
    stats = data.groupBy("route_type").agg(*_moment_aggs())
    # unscale the exact integer stats to doubles (identical ops in SQL)
    lam = F.lit(RIDGE_LAMBDA)
    unscaled = stats.select(
        "route_type",
        F.col("n").cast("double").alias("nd"),
        F.col("s1").cast("double").alias("se"),
        (F.col("s2").cast("double") / 100.0).alias("sp"),
        F.col("s11").cast("double").alias("see"),
        (F.col("s22").cast("double") / 10000.0).alias("spp"),
        (F.col("s12").cast("double") / 100.0).alias("sep"),
        (F.col("sy0").cast("double") / 1000000.0).alias("sy"),
        (F.col("s1y").cast("double") / 1000000.0).alias("sey"),
        (F.col("s2y").cast("double") / 100000000.0).alias("spy"),
        (F.col("syy0").cast("double") / 1000000000000.0).alias("syy"),
    )
    c = {k: F.col(k) for k in
         ("nd", "se", "sp", "see", "spp", "sep", "sy", "sey", "spy", "syy")}
    a11, a12, a13 = c["see"] + lam, c["sep"], c["se"]
    a21, a22, a23 = c["sep"], c["spp"] + lam, c["sp"]
    a31, a32, a33 = c["se"], c["sp"], c["nd"]
    det = _det3(a11, a12, a13, a21, a22, a23, a31, a32, a33)
    coefs = unscaled.select(
        "route_type", "nd", "se", "sp", "see", "spp", "sep",
        "sy", "sey", "spy", "syy",
        (_det3(c["sey"], a12, a13, c["spy"], a22, a23, c["sy"], a32, a33)
         / det).alias("we"),
        (_det3(a11, c["sey"], a13, a21, c["spy"], a23, a31, c["sy"], a33)
         / det).alias("wp"),
        (_det3(a11, a12, c["sey"], a21, a22, c["spy"], a31, a32, c["sy"])
         / det).alias("b0"),
    )
    we, wp, b0 = F.col("we"), F.col("wp"), F.col("b0")
    sse = (c["syy"]
           - 2 * (we * c["sey"] + wp * c["spy"] + b0 * c["sy"])
           + (we * we * c["see"] + wp * wp * c["spp"] + b0 * b0 * c["nd"]
              + 2 * (we * wp * c["sep"] + we * b0 * c["se"]
                     + wp * b0 * c["sp"])))
    sst = c["syy"] - c["sy"] * c["sy"] / c["nd"]
    # R2 is UNDEFINED for a zero-variance group (sst == 0) — at sf0.1
    # the uncapped influence sum saturates the 0-100 risk normalization
    # for entire route types, so every label in the group is 100.000000
    # exactly.  ANSI mode turns the unguarded division into a hard
    # error; emit NULL instead (mirrored CASE in the oracle).
    # sse is a catastrophic-cancellation difference; on an exactly-fit
    # (zero-variance) group it lands a few ulp NEGATIVE — clamp at 0
    # (Spark would yield NaN, DuckDB raises on sqrt(<0)).
    model = coefs.select(
        "route_type", "we", "wp", "b0",
        F.sqrt(F.greatest(sse, F.lit(0.0)) / c["nd"]).alias("rmse_g"),
        F.when(sst > 0, 1.0 - sse / sst).alias("r2_g"),
    )
    return (data.join(F.broadcast(model), "route_type")
                .select("route_id", "route_type", "risk_score",
                        F.round(F.col("we") * F.col("elevation_m")
                                + F.col("wp") * F.col("popularity")
                                + F.col("b0"), 4).alias("predicted_risk"),
                        F.round("rmse_g", 4).alias("rmse_g"),
                        F.round("r2_g", 4).alias("r2_g"))
                .orderBy("route_id"))


def sql_ml_risk_model() -> str:
    from .operators.scoring import risk_scores_sql
    lam = repr(RIDGE_LAMBDA)

    def det3(a, b, c, d, e, f, g, h, i):
        return (f"{a} * ({e} * {i} - {f} * {h}) "
                f"- {b} * ({d} * {i} - {f} * {g}) "
                f"+ {c} * ({d} * {h} - {e} * {g})")

    a11, a12, a13 = f"(see + {lam})", "sep", "se"
    a21, a22, a23 = "sep", f"(spp + {lam})", "sp"
    a31, a32, a33 = "se", "sp", "nd"
    det = det3(a11, a12, a13, a21, a22, a23, a31, a32, a33)
    return f"""
WITH {domain.ROUTES_CTE.strip()},
{domain.LOCATIONS_CTE.strip()},
scores AS (
  SELECT route_id, risk_score FROM ({risk_scores_sql()})
),
data AS (
  SELECT r.route_id, r.route_type,
         COALESCE(l.elevation_m, 0.0) AS elevation_m,
         COALESCE(r.popularity, 0.0) AS popularity, s.risk_score,
         CAST(COALESCE(l.elevation_m, 0.0) AS BIGINT) AS ei,
         CAST(round(COALESCE(r.popularity, 0.0) * {POP_SCALE}) AS BIGINT) AS pi,
         CAST(round(s.risk_score * {LABEL_SCALE}) AS BIGINT) AS yi
  FROM routes r
  JOIN locations l ON r.location_id = l.location_id
  JOIN scores s ON s.route_id = r.route_id
),
stats AS (
  SELECT route_type, count(*) AS n,
         CAST(sum(ei) AS BIGINT) AS s1, CAST(sum(pi) AS BIGINT) AS s2,
         sum(CAST(ei AS HUGEINT) * ei) AS s11,
         sum(CAST(pi AS HUGEINT) * pi) AS s22,
         sum(CAST(ei AS HUGEINT) * pi) AS s12,
         CAST(sum(yi) AS BIGINT) AS sy0,
         sum(CAST(ei AS HUGEINT) * yi) AS s1y,
         sum(CAST(pi AS HUGEINT) * yi) AS s2y,
         sum(CAST(yi AS HUGEINT) * yi) AS syy0
  FROM data GROUP BY route_type
),
unscaled AS (
  SELECT route_type,
         CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) AS se,
         CAST(s2 AS DOUBLE) / 100.0 AS sp,
         CAST(s11 AS DOUBLE) AS see,
         CAST(s22 AS DOUBLE) / 10000.0 AS spp,
         CAST(s12 AS DOUBLE) / 100.0 AS sep,
         CAST(sy0 AS DOUBLE) / 1000000.0 AS sy,
         CAST(s1y AS DOUBLE) / 1000000.0 AS sey,
         CAST(s2y AS DOUBLE) / 100000000.0 AS spy,
         CAST(syy0 AS DOUBLE) / 1000000000000.0 AS syy
  FROM stats
),
coefs AS (
  SELECT route_type, nd, se, sp, see, spp, sep, sy, sey, spy, syy,
         ({det3('sey', a12, a13, 'spy', a22, a23, 'sy', a32, a33)})
           / ({det}) AS we,
         ({det3(a11, 'sey', a13, a21, 'spy', a23, a31, 'sy', a33)})
           / ({det}) AS wp,
         ({det3(a11, a12, 'sey', a21, a22, 'spy', a31, a32, 'sy')})
           / ({det}) AS b0
  FROM unscaled
),
model AS (
  SELECT route_type, we, wp, b0,
         sqrt(greatest(syy - 2 * (we * sey + wp * spy + b0 * sy)
                       + (we * we * see + wp * wp * spp + b0 * b0 * nd
                          + 2 * (we * wp * sep + we * b0 * se
                                 + wp * b0 * sp)), 0.0)
              / nd) AS rmse_g,
         CASE WHEN (syy - sy * sy / nd) > 0 THEN
           1.0 - (syy - 2 * (we * sey + wp * spy + b0 * sy)
                  + (we * we * see + wp * wp * spp + b0 * b0 * nd
                     + 2 * (we * wp * sep + we * b0 * se + wp * b0 * sp)))
                 / (syy - sy * sy / nd)
         END AS r2_g
  FROM coefs
)
SELECT d.route_id, d.route_type, d.risk_score,
       round(m.we * d.elevation_m + m.wp * d.popularity + m.b0, 4)
         AS predicted_risk,
       round(m.rmse_g, 4) AS rmse_g,
       round(m.r2_g, 4) AS r2_g
FROM data d JOIN model m ON d.route_type = m.route_type
ORDER BY d.route_id"""


# --- KMeans IVF ANN ----------------------------------------------------------

N_CENTROIDS = 16
# Cells searched per query.  The synthetic embeddings are near-uniform (no
# real cluster structure), so IVF needs a wide probe to hold recall@10 >=
# 0.7 vs brute force; on naturally clustered corpora 1-2 probes suffice.
N_PROBE = 6


def ivf_assignments(spark: SparkSession, sf_dir: str,
                    k: int = N_CENTROIDS):
    """Fit KMeans; return (model, corpus with cell assignment)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    e = embeddings_df(spark, sf_dir)
    vecs = e.withColumn("fvec", array_to_vector(F.col("vec")))
    km = KMeans(k=k, seed=SEED, featuresCol="fvec", predictionCol="cell")
    model = km.fit(vecs)
    return model, model.transform(vecs).drop("fvec")


def q_ann_ivf(spark: SparkSession, sf_dir: str,
              topk: int = TOP_K) -> DataFrame:
    """IVF search: each query probes its N_PROBE nearest centroids' cells
    only, then exact cosine within the probed cells.

    Emits a measurable per-query ``recall_at_k`` column — the overlap of the
    IVF result with the exact brute-force top-k (`cosine_topk_df`, which is
    oracle-green) — so the driver's rows-only check carries a checkable
    quality signal instead of just a row count; pytest asserts a floor
    (VERDICT r2 item 3)."""
    model, corpus = ivf_assignments(spark, sf_dir)
    centroids = [(ci, [float(x) for x in c])
                 for ci, c in enumerate(model.clusterCenters())]
    cent_df = F.broadcast(domain.local_frame(
        spark, centroids, "cell int, centroid array<double>"))

    q = (corpus.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec")))
    # rank centroids per query by euclidean distance; keep N_PROBE cells
    qc = q.crossJoin(cent_df)
    dist2 = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("centroid"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(dist2.asc(), F.col("cell").asc())
    probed = (qc.withColumn("cell_rank", F.row_number().over(w))
                .filter(F.col("cell_rank") <= N_PROBE)
                .select("query_id", "qvec", "cell"))
    cand = (corpus.join(probed, "cell")
                  .filter(F.col("vec_id") != F.col("query_id")))
    cos = _dot(F.col("vec"), F.col("qvec")) / (_norm(F.col("vec"))
                                               * _norm(F.col("qvec")))
    scored = cand.select("query_id", "vec_id", cos.alias("cosine"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    ivf = (scored.withColumn("rank", F.row_number().over(w2))
                 .filter(F.col("rank") <= topk)
                 .select("query_id", F.col("rank").cast("int").alias("rank"),
                         F.col("vec_id").alias("neighbor_id"),
                         F.round("cosine", 6).alias("cosine")))
    # recall@k vs the exact brute-force baseline (deterministic: seeded
    # KMeans, fixed tie-breaks on both rankings)
    from .operators.similarity import cosine_topk_df
    brute = cosine_topk_df(spark, sf_dir, topk).select(
        "query_id", "neighbor_id")
    overlap = (ivf.select("query_id", "neighbor_id")
                  .intersect(brute)
                  .groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n_hit")))
    return (ivf.join(F.broadcast(overlap), "query_id", "left")
               .withColumn("recall_at_k",
                           F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                                   / F.lit(float(topk)), 2))
               .drop("n_hit")
               .orderBy("query_id", "rank"))


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster profile: size + centroid norm per IVF cell."""
    model, corpus = ivf_assignments(spark, sf_dir)
    norms = {ci: float(sum(x * x for x in c) ** 0.5)
             for ci, c in enumerate(model.clusterCenters())}
    sizes = corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    norm_df = F.broadcast(domain.local_frame(
        spark, [(ci, n) for ci, n in norms.items()],
        "cell int, centroid_norm double"))
    return (sizes.join(norm_df, "cell")
                 .select("cell", "n_vectors",
                         F.round("centroid_norm", 4).alias("centroid_norm"))
                 .orderBy("cell"))


# --- Self-certifying driver forms of the iterative queries -------------------
#
# KMeans training is iterative and seeded-Spark-specific, so DuckDB can never
# reproduce the neighbor lists / cell assignments — the detailed queries above
# stay pytest-verified.  But the QUALITY CONTRACT is cross-engine checkable
# (the events_approx_stats pattern, operators/analytics.py): emit only
# deterministic values (query ids, result counts, the corpus cardinality)
# plus booleans asserting the iterative result met its floor, and have the
# oracle pin the booleans to literal ``true``.  A recall or coverage
# regression then breaks the driver hash gate — hard signal, not rows-only.
# Floors match the pytest ones (test_ml.py), which hold with margin at the
# driver's sf0.01: IVF min>=0.5 & mean>=0.7, PQ per-query>=0.7.

IVF_RECALL_MIN = 0.5    # per-query floor (pytest: test_ivf_recall_floor)
IVF_RECALL_MEAN = 0.7   # corpus-mean floor
PQ_RECALL_MIN = 0.7     # per-query floor (pytest: test_pq_recall_floor)


def q_ann_ivf_certified(spark: SparkSession, sf_dir: str,
                        topk: int = TOP_K) -> DataFrame:
    """Driver form of IVF search: per query, the (deterministic) result
    count + distinctness, and booleans certifying the recall floors."""
    ivf = q_ann_ivf(spark, sf_dir, topk)
    per_q = ivf.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.count_distinct("neighbor_id").alias("n_distinct"),
        F.min("recall_at_k").alias("recall"))   # constant within a query
    mean_ok = per_q.agg(
        (F.avg("recall") >= F.lit(IVF_RECALL_MEAN)).alias("mean_recall_ok"))
    return (per_q.crossJoin(F.broadcast(mean_ok))
                 .select("query_id", "n_results",
                         (F.col("n_distinct") == F.col("n_results"))
                         .alias("results_distinct_ok"),
                         (F.col("recall") >= F.lit(IVF_RECALL_MIN))
                         .alias("recall_floor_ok"),
                         "mean_recall_ok")
                 .orderBy("query_id"))


def sql_ann_ivf_certified(topk: int = TOP_K) -> str:
    return f"""
SELECT vec_id AS query_id,
       CAST({topk} AS BIGINT) AS n_results,
       true AS results_distinct_ok,
       true AS recall_floor_ok,
       true AS mean_recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES} ORDER BY query_id"""


def q_ann_pq_certified(spark: SparkSession, sf_dir: str,
                       topk: int = TOP_K) -> DataFrame:
    """Driver form of PQ + exact re-rank: per-query recall floor contract."""
    pq = q_ann_pq(spark, sf_dir, topk)
    per_q = pq.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.count_distinct("neighbor_id").alias("n_distinct"),
        F.min("recall_at_k").alias("recall"))
    return (per_q.select("query_id", "n_results",
                         (F.col("n_distinct") == F.col("n_results"))
                         .alias("results_distinct_ok"),
                         (F.col("recall") >= F.lit(PQ_RECALL_MIN))
                         .alias("recall_floor_ok"))
                 .orderBy("query_id"))


def sql_ann_pq_certified(topk: int = TOP_K) -> str:
    return f"""
SELECT vec_id AS query_id,
       CAST({topk} AS BIGINT) AS n_results,
       true AS results_distinct_ok,
       true AS recall_floor_ok
FROM embeddings WHERE vec_id < {N_QUERIES} ORDER BY query_id"""


def q_embedding_kmeans_certified(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Driver form of the cluster profile: the cell-size SUM is the exact
    corpus cardinality (DuckDB reproduces it as count(*)), so partition
    coverage — every vector in exactly one cell — is value-checked, and
    the cell-count bound is a pinned boolean."""
    cells = q_embedding_kmeans(spark, sf_dir)
    return cells.agg(
        F.sum("n_vectors").alias("n_vectors_total"),
        (F.count(F.lit(1)) <= F.lit(N_CENTROIDS)).alias("n_cells_within_k"),
        (F.min("n_vectors") >= F.lit(1)).alias("cells_nonempty"))


def sql_embedding_kmeans_certified() -> str:
    return """
SELECT CAST(count(*) AS BIGINT) AS n_vectors_total,
       true AS n_cells_within_k,
       true AS cells_nonempty
FROM embeddings"""


# --- Product-quantization ANN ------------------------------------------------
# The canonical billion-scale pairing with IVF: each vector is stored as
# PQ_M sub-codes (16 codes x 16 centroids = 16 bytes vs 512 for raw
# float64 x 64 dims — a 32x memory cut on the corpus side), and search
# ranks by the distance to the CODE-RECONSTRUCTED vector (asymmetric
# distance).  Iterative KMeans training keeps the detailed form out of the
# hash gate; the registered query is the certified contract above, and the
# detailed query emits recall@k vs the oracle-green brute force with a
# pytest floor, like IVF.

PQ_M = 16       # subspaces of DIM // PQ_M dims, 16 centroids each
# exact-rerank shortlist = PQ_SHORTLIST * topk.  10, not 5: the 0.7
# per-query recall floor must hold at EVERY gate SF, and at sf0.1 the
# 5x shortlist bottomed out at 0.6 (sf0.01 was fixture-lucky at 0.8) —
# measured sf0.1 per-query min is 0.8 at 10x, 0.9 at sf0.01.  The
# rerank stays k-row-bounded per query either way.
PQ_SHORTLIST = 10


def pq_codebooks(spark: SparkSession, sf_dir: str):
    """Train per-subspace codebooks (seeded) and code the corpus.

    Returns (codebook_df: (m, code, sub), coded corpus with
    code_0..code_{PQ_M-1})."""
    from concurrent.futures import ThreadPoolExecutor
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from .operators.similarity import DIM
    sub = DIM // PQ_M
    df = embeddings_df(spark, sf_dir)

    # r12 (guide §2.6): the PQ_M subspace fits are independent seeded jobs
    # on tiny frames, so the wall-clock was PQ_M x (KMeans job-latency) —
    # ~18s of mostly idle driver round-trips at any SF.  Fit them from a
    # thread pool so later fits back-fill the cluster while earlier ones
    # drain.  Each fit sees exactly the rows/partitioning/seed the serial
    # loop gave it (the extra code_* columns the old accumulating frame
    # carried are invisible to featuresCol), so every model — and thus
    # every code, codebook row, and downstream recall — is bit-identical
    # (verified: clusterCenters equal at sf0.01/sf0.1).
    def _fit(m: int):
        sl = F.slice(F.col("vec"), m * sub + 1, sub)
        km = KMeans(k=16, seed=SEED + m, featuresCol="_f",
                    predictionCol=f"code_{m}")
        return km.fit(df.withColumn("_f", array_to_vector(sl)))

    with ThreadPoolExecutor(max_workers=8) as pool:
        models = list(pool.map(_fit, range(PQ_M)))

    books = []
    for m, model in enumerate(models):
        sl = F.slice(F.col("vec"), m * sub + 1, sub)
        df = model.transform(df.withColumn("_f", array_to_vector(sl))) \
                  .drop("_f")
        books += [(m, ci, [float(x) for x in c])
                  for ci, c in enumerate(model.clusterCenters())]
    book_df = domain.local_frame(spark, books,
                                 "m int, code int, sub array<double>")
    return book_df, df


def q_ann_pq(spark: SparkSession, sf_dir: str, topk: int = TOP_K) -> DataFrame:
    """PQ search with exact re-rank: approximate cosine against the
    code-reconstructed corpus selects a PQ_SHORTLIST*topk shortlist, then
    raw vectors are fetched for the shortlist only and re-ranked exactly —
    the production ADC + refine design.  The full corpus sweep touches
    only the 16-byte codes (vs 512-byte raw vectors, a 32x bandwidth cut);
    raw vectors are read for ~shortlist rows per query."""
    book_df, coded = pq_codebooks(spark, sf_dir)
    ex = coded.select("vec_id", F.posexplode(F.array(
        *[F.col(f"code_{m}") for m in range(PQ_M)])).alias("m", "code"))
    recon = (ex.join(F.broadcast(book_df), ["m", "code"])
               .groupBy("vec_id")
               .agg(F.flatten(F.transform(
                   F.array_sort(F.collect_list(F.struct("m", "sub"))),
                   lambda s: s["sub"])).alias("rvec")))
    q = (embeddings_df(spark, sf_dir)
         .filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("vec").alias("qvec")))
    cand = (recon.crossJoin(F.broadcast(q))
                 .filter(F.col("vec_id") != F.col("query_id")))
    cos = _dot(F.col("rvec"), F.col("qvec")) / (_norm(F.col("rvec"))
                                                * _norm(F.col("qvec")))
    scored = cand.select("query_id", "vec_id", cos.alias("approx_cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("vec_id").asc())
    short = (scored.withColumn("arank", F.row_number().over(w))
                   .filter(F.col("arank") <= topk * PQ_SHORTLIST)
                   .select("query_id", "vec_id"))
    raw = embeddings_df(spark, sf_dir)
    exact = (short.join(raw, "vec_id")
                  .join(F.broadcast(q), "query_id")
                  .select("query_id", "vec_id",
                          (_dot(F.col("vec"), F.col("qvec"))
                           / (_norm(F.col("vec")) * _norm(F.col("qvec"))))
                          .alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    pq = (exact.withColumn("rank", F.row_number().over(w2))
               .filter(F.col("rank") <= topk)
               .select("query_id", F.col("rank").cast("int").alias("rank"),
                       F.col("vec_id").alias("neighbor_id"),
                       F.round("cosine", 6).alias("cosine")))
    from .operators.similarity import cosine_topk_df
    brute = cosine_topk_df(spark, sf_dir, topk).select(
        "query_id", "neighbor_id")
    overlap = (pq.select("query_id", "neighbor_id")
                 .intersect(brute)
                 .groupBy("query_id")
                 .agg(F.count(F.lit(1)).alias("n_hit")))
    return (pq.join(F.broadcast(overlap), "query_id", "left")
              .withColumn("recall_at_k",
                          F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                                  / F.lit(float(topk)), 2))
              .drop("n_hit")
              .orderBy("query_id", "rank"))


# --- Filtered IVF ANN (metadata predicate composed INTO the probe path) ------
#
# VERDICT r4 item 1: `ann_filtered_topk` (operators/similarity.py) is exact
# but linear — every query scans the whole (label-filtered) corpus.  Here the
# label predicate is composed INTO the IVF index instead of post-applied:
#
# * a per-(cell, label) occupancy dim (<= N_CENTROIDS x |labels| rows,
#   broadcastable at any corpus size) tells each query which cells contain
#   its label AT ALL;
# * probe ranking runs over NON-EMPTY cells only — a selective filter
#   therefore never wastes probes on cells with zero matching vectors (the
#   empty-probe-cell recall failure mode of naive filtered ANN);
# * candidate generation is a (cell, label) equi-join against the broadcast
#   probe list, so the label compare prunes BEFORE the O(DIM) dot product
#   and only probed cells' rows are scored.  On a corpus laid out
#   partitioned-by-cell (txlog Z-order writes), the unprobed cells are
#   never read at all.
#
# Reference workload analog: same-route-type neighbor retrieval
# (backend/app/utils/route_type_weighting.py:17-58 supplies the metadata
# predicate semantics).  Certified-recall contract follows q_ann_ivf_certified.

N_PROBE_FILTERED = 8
# floors vs the ORACLE-GREEN exact filtered brute force
# (sql_ann_filtered_topk); measured 0.8 min / 0.88 mean at sf0.001 AND
# sf0.01 on the near-uniform synthetic embeddings — the adversarial case
# for IVF — so both floors hold with ~2x margin.
FILTERED_IVF_RECALL_MIN = 0.4
FILTERED_IVF_RECALL_MEAN = 0.6


def filtered_ivf_candidates(spark: SparkSession, sf_dir: str,
                            n_probe: int = N_PROBE_FILTERED):
    """Label-aware probe plan: returns (corpus-with-cell, probed) where
    `probed` maps each query to its n_probe nearest NON-EMPTY cells
    (cells containing >= 1 vector of the query's own label)."""
    model, corpus = ivf_assignments(spark, sf_dir)
    centroids = [(ci, [float(x) for x in c])
                 for ci, c in enumerate(model.clusterCenters())]
    cent_df = F.broadcast(domain.local_frame(
        spark, centroids, "cell int, centroid array<double>"))
    # per-(cell, label) occupancy: the filtered-ANN "index statistics" dim
    occ = (corpus.groupBy("cell", F.col("label").alias("qlabel"))
                 .agg(F.count(F.lit(1)).alias("n_in_cell")))
    q = (corpus.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("qlabel"),
                       F.col("vec").alias("qvec")))
    # inner join on (cell, qlabel) drops label-empty cells BEFORE ranking,
    # so all n_probe probes land on cells that can contribute candidates
    qc = (q.crossJoin(cent_df)
           .join(F.broadcast(occ), ["cell", "qlabel"]))
    dist2 = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("centroid"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(dist2.asc(), F.col("cell").asc())
    probed = (qc.withColumn("cell_rank", F.row_number().over(w))
                .filter(F.col("cell_rank") <= n_probe)
                .select("query_id", "qlabel", "qvec", "cell"))
    return corpus, probed


def q_ann_filtered_ivf(spark: SparkSession, sf_dir: str,
                       k: int | None = None) -> DataFrame:
    """Filtered IVF search: probe the query's label-occupied cells only,
    exact cosine within them, top-k; per-query ``recall_at_k`` vs the
    ORACLE-GREEN exact filtered brute force (q_ann_filtered_topk)."""
    from .operators.similarity import FILTERED_TOP_K, q_ann_filtered_topk
    if k is None:
        k = FILTERED_TOP_K
    corpus, probed = filtered_ivf_candidates(spark, sf_dir)
    # (cell, label) equi-join: the label predicate rides the hash-join key,
    # pruning candidates before any O(DIM) arithmetic
    cand = (corpus.alias("c")
                  .join(F.broadcast(probed).alias("p"),
                        (F.col("c.cell") == F.col("p.cell"))
                        & (F.col("c.label") == F.col("p.qlabel")))
                  .filter(F.col("c.vec_id") != F.col("p.query_id")))
    cos = _dot(F.col("c.vec"), F.col("p.qvec")) / (
        _norm(F.col("c.vec")) * _norm(F.col("p.qvec")))
    scored = cand.select("query_id", F.col("c.vec_id").alias("vec_id"),
                         F.col("c.label").alias("label"),
                         F.col("p.qlabel").alias("qlabel"),
                         cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    res = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id",
                         F.col("rank").cast("int").alias("rank"),
                         F.col("vec_id").alias("neighbor_id"),
                         "label", "qlabel",
                         F.round("cosine", 6).alias("cosine")))
    brute = q_ann_filtered_topk(spark, sf_dir, k).select(
        "query_id", "neighbor_id")
    overlap = (res.select("query_id", "neighbor_id")
                  .intersect(brute)
                  .groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n_hit")))
    return (res.join(F.broadcast(overlap), "query_id", "left")
               .withColumn("recall_at_k",
                           F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                                   / F.lit(float(k)), 2))
               .drop("n_hit")
               .orderBy("query_id", "rank"))


def q_ann_filtered_ivf_certified(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Driver form: deterministic per-query result count + booleans the
    oracle pins — label purity, distinctness, and the recall floors vs the
    oracle-green exact filtered baseline."""
    from .operators.similarity import FILTERED_TOP_K
    res = q_ann_filtered_ivf(spark, sf_dir, FILTERED_TOP_K)
    per_q = res.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.count_distinct("neighbor_id").alias("n_distinct"),
        F.min((F.col("label") == F.col("qlabel")).cast("int")).alias("lbl_ok"),
        F.min("recall_at_k").alias("recall"))   # constant within a query
    mean_ok = per_q.agg(
        (F.avg("recall") >= F.lit(FILTERED_IVF_RECALL_MEAN))
        .alias("mean_recall_ok"))
    return (per_q.crossJoin(F.broadcast(mean_ok))
                 .select("query_id", "n_results",
                         (F.col("n_distinct") == F.col("n_results"))
                         .alias("results_distinct_ok"),
                         (F.col("lbl_ok") == F.lit(1))
                         .alias("labels_match_ok"),
                         (F.col("recall") >= F.lit(FILTERED_IVF_RECALL_MIN))
                         .alias("recall_floor_ok"),
                         "mean_recall_ok")
                 .orderBy("query_id"))


def sql_ann_filtered_ivf_certified() -> str:
    from .operators.similarity import FILTERED_TOP_K
    return f"""
WITH cls AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
SELECT e.vec_id AS query_id,
       CAST(least({FILTERED_TOP_K}, cls.n - 1) AS BIGINT) AS n_results,
       true AS results_distinct_ok,
       true AS labels_match_ok,
       true AS recall_floor_ok,
       true AS mean_recall_ok
FROM embeddings e JOIN cls USING (label)
WHERE e.vec_id < {N_QUERIES}
ORDER BY query_id"""


# --- IVF + PQ composed (the billion-scale layout: coarse cells + ADC) --------
#
# The production design for web-scale vector search (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011; the FAISS
# IVFADC index): a coarse quantizer (the IVF KMeans cells) restricts the
# search to N_PROBE cells, and within the probed cells candidates are
# scored by ASYMMETRIC DISTANCE COMPUTATION — per query, the dot product
# of each of the PQ_M query sub-vectors against each of the 16 sub-
# centroids is precomputed ONCE into a (PQ_M x 16)-entry lookup table, so
# scoring a candidate costs PQ_M integer lookups + adds, never an O(DIM)
# multiply.  A shortlist then re-ranks exactly against raw vectors.
#
# Spark shape (100 TB story):
# * the ADC tables are |queries| x PQ_M x 16 rows — a broadcast dim
#   regardless of corpus size;
# * the corpus sweep touches only (cell, code_0..code_15) — 16 bytes/row
#   with the raw vectors never read outside the shortlist join — and only
#   within probed cells (a cell equi-join, prunable to a partition scan
#   when the corpus is laid out clustered-by-cell, e.g. txlog Z-order);
# * per-candidate scoring is posexplode(16) + broadcast-hash-join +
#   map-side-combined sum — no shuffle keyed on the corpus.
#
# Reference analog: the serving-path neighbor retrieval the reference does
# with a full NumPy sweep (safety_algorithm_vectorized.py:314-376 is an
# exhaustive scan per prediction); this is what it must become at scale.

IVFPQ_SHORTLIST = 8   # exact-rerank shortlist = IVFPQ_SHORTLIST * topk
# Floors vs brute force at sf0.001/sf0.01 (near-uniform embeddings, the
# IVF-adversarial case; compounding IVF cell loss x PQ code loss).
# Measured: see test_ml.py::test_ivfpq_recall_floor.
IVFPQ_RECALL_MIN = 0.4
IVFPQ_RECALL_MEAN = 0.6


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str,
                 topk: int = TOP_K) -> DataFrame:
    """IVF cell probe + PQ ADC scoring + exact re-rank, with per-query
    recall@k vs the oracle-green brute force."""
    from .operators.similarity import DIM, cosine_topk_df
    sub = DIM // PQ_M
    model, cells = ivf_assignments(spark, sf_dir)
    book_df, coded = pq_codebooks(spark, sf_dir)
    # corpus: (vec_id, cell, code_0..code_15) — the 16-byte scan image
    corpus = coded.select(
        "vec_id", *[f"code_{m}" for m in range(PQ_M)]).join(
        cells.select("vec_id", "cell"), "vec_id")

    centroids = [(ci, [float(x) for x in c])
                 for ci, c in enumerate(model.clusterCenters())]
    cent_df = F.broadcast(domain.local_frame(
        spark, centroids, "cell int, centroid array<double>"))
    q = (embeddings_df(spark, sf_dir)
         .filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("vec").alias("qvec")))
    # coarse probe: N_PROBE nearest cells per query (identical to q_ann_ivf)
    qc = q.crossJoin(cent_df)
    dist2 = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("centroid"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(dist2.asc(), F.col("cell").asc())
    probed = (qc.withColumn("cell_rank", F.row_number().over(w))
                .filter(F.col("cell_rank") <= N_PROBE)
                .select("query_id", "cell"))

    # ADC tables: dot(q_sub_m, centroid_{m,code}) per (query, m, code) —
    # N_QUERIES x PQ_M x 16 rows, broadcast.  Sub-centroid norms ride the
    # same dim so ||recon||^2 = sum_m ||centroid_{m,code_m}||^2 needs no
    # vector math at candidate grain (subspaces are concatenated, hence
    # orthogonal in the full space).
    qsub = q.select(
        "query_id", "qvec",
        F.posexplode(F.array(*[
            F.slice(F.col("qvec"), m * sub + 1, sub) for m in range(PQ_M)
        ])).alias("m", "qsub"))
    adc = (qsub.join(book_df, "m")
               .select("query_id", "m", "code",
                       _dot(F.col("qsub"), F.col("sub")).alias("d"),
                       _dot(F.col("sub"), F.col("sub")).alias("c2")))

    # candidate sweep: probed-cell equi-join, explode the 16 codes, ADC
    # lookup join, one map-side-combined sum per (query, candidate)
    cand = (corpus.join(F.broadcast(probed), "cell")
                  .filter(F.col("vec_id") != F.col("query_id"))
                  .select("query_id", "vec_id", F.posexplode(F.array(
                      *[F.col(f"code_{m}") for m in range(PQ_M)]))
                      .alias("m", "code")))
    scored = (cand.join(F.broadcast(adc), ["query_id", "m", "code"])
                  .groupBy("query_id", "vec_id")
                  .agg(F.sum("d").alias("adot"),
                       F.sum("c2").alias("rnorm2")))
    qn = q.select("query_id", _norm(F.col("qvec")).alias("qnorm"))
    approx = (scored.join(F.broadcast(qn), "query_id")
                    .select("query_id", "vec_id",
                            (F.col("adot") / (F.sqrt("rnorm2")
                                              * F.col("qnorm")))
                            .alias("approx_cosine")))
    ws = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("vec_id").asc())
    short = (approx.withColumn("arank", F.row_number().over(ws))
                   .filter(F.col("arank") <= topk * IVFPQ_SHORTLIST)
                   .select("query_id", "vec_id"))
    # exact re-rank: raw vectors fetched for shortlist rows only
    raw = embeddings_df(spark, sf_dir)
    exact = (short.join(raw, "vec_id")
                  .join(F.broadcast(q), "query_id")
                  .select("query_id", "vec_id",
                          (_dot(F.col("vec"), F.col("qvec"))
                           / (_norm(F.col("vec")) * _norm(F.col("qvec"))))
                          .alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    res = (exact.withColumn("rank", F.row_number().over(w2))
                .filter(F.col("rank") <= topk)
                .select("query_id", F.col("rank").cast("int").alias("rank"),
                        F.col("vec_id").alias("neighbor_id"),
                        F.round("cosine", 6).alias("cosine")))
    # r12 (guide §3.3): `res` feeds both the brute-force overlap leg and
    # the final recall join; un-materialized, the whole IVF-PQ candidate
    # sweep + re-rank pipeline executed twice.  topk x N_QUERIES rows —
    # bounded at any corpus size.
    res = res.localCheckpoint(eager=True)
    brute = cosine_topk_df(spark, sf_dir, topk).select(
        "query_id", "neighbor_id")
    overlap = (res.select("query_id", "neighbor_id")
                  .intersect(brute)
                  .groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n_hit")))
    return (res.join(F.broadcast(overlap), "query_id", "left")
               .withColumn("recall_at_k",
                           F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                                   / F.lit(float(topk)), 2))
               .drop("n_hit")
               .orderBy("query_id", "rank"))


def q_ann_ivf_pq_certified(spark: SparkSession, sf_dir: str,
                           topk: int = TOP_K) -> DataFrame:
    """Driver form: deterministic result counts + recall-floor booleans
    the oracle pins to true (the q_ann_ivf_certified contract)."""
    res = q_ann_ivf_pq(spark, sf_dir, topk)
    per_q = res.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.count_distinct("neighbor_id").alias("n_distinct"),
        F.min("recall_at_k").alias("recall"))
    # r12: per_q feeds the mean gate and the certification projection —
    # N_QUERIES rows, checkpointed so the upstream runs once.
    per_q = per_q.localCheckpoint(eager=True)
    mean_ok = per_q.agg(
        (F.avg("recall") >= F.lit(IVFPQ_RECALL_MEAN)).alias("mean_recall_ok"))
    return (per_q.crossJoin(F.broadcast(mean_ok))
                 .select("query_id", "n_results",
                         (F.col("n_distinct") == F.col("n_results"))
                         .alias("results_distinct_ok"),
                         (F.col("recall") >= F.lit(IVFPQ_RECALL_MIN))
                         .alias("recall_floor_ok"),
                         "mean_recall_ok")
                 .orderBy("query_id"))


def sql_ann_ivf_pq_certified(topk: int = TOP_K) -> str:
    return f"""
SELECT vec_id AS query_id,
       CAST({topk} AS BIGINT) AS n_results,
       true AS results_distinct_ok,
       true AS recall_floor_ok,
       true AS mean_recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES} ORDER BY query_id"""


# --- Distributed k-fold cross-validation via sufficient statistics -----------
# The evaluation layer the surrogate model needs: k-fold CV WITHOUT
# iteration or data movement.  Because the grouped ridge is closed-form
# in its sufficient statistics, fold-f training stats are just
# (total - fold_f) on the EXACT integer moment sums — one groupBy at
# (route_type, fold) grain, one broadcast join against the per-type
# totals, and the same determinant algebra as q_ml_risk_model per
# (type, fold).  Held-out RMSE evaluates from the fold's own integer
# moments (no second data pass).  Folds are route_id % K — deterministic,
# hash-free, identical in both engines.
#
# Scale shape: ONE pass over the corpus (the (type, fold) aggregate);
# everything after runs on a 7 x K frame.  This is how CV actually
# scales: never K training passes.

CV_FOLDS = 5


def q_ml_risk_model_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single consumption here, but the session-memoized cached frame
    # means a sweep running model + cv + calibration + brier in one
    # session pays the scoring label pipeline once, not four times
    data = _training_frame(spark, sf_dir).select(
        "route_type",
        (F.col("route_id") % CV_FOLDS).cast("int").alias("fold"),
        F.col("elevation_m").cast("long").alias("ei"),
        F.round(F.col("popularity") * POP_SCALE, 0).cast("long").alias("pi"),
        F.round(F.col("risk_score") * LABEL_SCALE, 0).cast("long").alias("yi"),
    )
    fstats = data.groupBy("route_type", "fold").agg(*_moment_aggs())
    moment_cols = ["n", "s1", "s2", "s11", "s22", "s12",
                   "sy0", "s1y", "s2y", "syy0"]
    totals = fstats.groupBy("route_type").agg(
        *[F.sum(m).alias(f"t_{m}") for m in moment_cols])
    # train = total - heldout fold, still exact BIGINTs
    tr = fstats.join(F.broadcast(totals), "route_type").select(
        "route_type", "fold",
        *[(F.col(f"t_{m}") - F.col(m)).alias(f"tr_{m}")
          for m in moment_cols],
        *[F.col(m).alias(f"te_{m}") for m in moment_cols])

    def unscale(px: str):
        return {
            "nd": F.col(f"{px}_n").cast("double"),
            "se": F.col(f"{px}_s1").cast("double"),
            "sp": F.col(f"{px}_s2").cast("double") / 100.0,
            "see": F.col(f"{px}_s11").cast("double"),
            "spp": F.col(f"{px}_s22").cast("double") / 10000.0,
            "sep": F.col(f"{px}_s12").cast("double") / 100.0,
            "sy": F.col(f"{px}_sy0").cast("double") / 1000000.0,
            "sey": F.col(f"{px}_s1y").cast("double") / 1000000.0,
            "spy": F.col(f"{px}_s2y").cast("double") / 100000000.0,
            "syy": F.col(f"{px}_syy0").cast("double") / 1000000000000.0,
        }

    c = unscale("tr")
    lam = F.lit(RIDGE_LAMBDA)
    a11, a12, a13 = c["see"] + lam, c["sep"], c["se"]
    a21, a22, a23 = c["sep"], c["spp"] + lam, c["sp"]
    a31, a32, a33 = c["se"], c["sp"], c["nd"]
    det = _det3(a11, a12, a13, a21, a22, a23, a31, a32, a33)
    we = _det3(c["sey"], a12, a13, c["spy"], a22, a23,
               c["sy"], a32, a33) / det
    wp = _det3(a11, c["sey"], a13, a21, c["spy"], a23,
               a31, c["sy"], a33) / det
    b0 = _det3(a11, a12, c["sey"], a21, a22, c["spy"],
               a31, a32, c["sy"]) / det
    t = unscale("te")
    sse_te = (t["syy"]
              - 2 * (we * t["sey"] + wp * t["spy"] + b0 * t["sy"])
              + (we * we * t["see"] + wp * wp * t["spp"]
                 + b0 * b0 * t["nd"]
                 + 2 * (we * wp * t["sep"] + we * b0 * t["se"]
                        + wp * b0 * t["sp"])))
    return (tr.select(
                "route_type", "fold",
                F.col("tr_n").cast("bigint").alias("n_train"),
                F.col("te_n").cast("bigint").alias("n_test"),
                F.round(F.sqrt(F.greatest(sse_te, F.lit(0.0)) / t["nd"]),
                        4).alias("rmse_cv"))
              .orderBy("route_type", "fold"))


def sql_ml_risk_model_cv() -> str:
    from .operators.scoring import risk_scores_sql
    lam = repr(RIDGE_LAMBDA)

    def det3(a, b, c, d, e, f, g, h, i):
        return (f"{a} * ({e} * {i} - {f} * {h}) "
                f"- {b} * ({d} * {i} - {f} * {g}) "
                f"+ {c} * ({d} * {h} - {e} * {g})")

    a11, a12, a13 = f"(see + {lam})", "sep", "se"
    a21, a22, a23 = "sep", f"(spp + {lam})", "sp"
    a31, a32, a33 = "se", "sp", "nd"
    det = det3(a11, a12, a13, a21, a22, a23, a31, a32, a33)
    we = (f"({det3('sey', a12, a13, 'spy', a22, a23, 'sy', a32, a33)})"
          f" / ({det})")
    wp = (f"({det3(a11, 'sey', a13, a21, 'spy', a23, a31, 'sy', a33)})"
          f" / ({det})")
    b0 = (f"({det3(a11, a12, 'sey', a21, a22, 'spy', a31, a32, 'sy')})"
          f" / ({det})")
    return f"""
WITH {domain.ROUTES_CTE.strip()},
{domain.LOCATIONS_CTE.strip()},
scores AS (
  SELECT route_id, risk_score FROM ({risk_scores_sql()})
),
data AS (
  SELECT r.route_type, CAST(r.route_id % {CV_FOLDS} AS INT) AS fold,
         CAST(COALESCE(l.elevation_m, 0.0) AS BIGINT) AS ei,
         CAST(round(COALESCE(r.popularity, 0.0) * {POP_SCALE}) AS BIGINT) AS pi,
         CAST(round(s.risk_score * {LABEL_SCALE}) AS BIGINT) AS yi
  FROM routes r
  JOIN locations l ON r.location_id = l.location_id
  JOIN scores s ON s.route_id = r.route_id
),
fstats AS (
  SELECT route_type, fold, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ei) AS BIGINT) AS s1, CAST(sum(pi) AS BIGINT) AS s2,
         sum(CAST(ei AS HUGEINT) * ei) AS s11,
         sum(CAST(pi AS HUGEINT) * pi) AS s22,
         sum(CAST(ei AS HUGEINT) * pi) AS s12,
         CAST(sum(yi) AS BIGINT) AS sy0,
         sum(CAST(ei AS HUGEINT) * yi) AS s1y,
         sum(CAST(pi AS HUGEINT) * yi) AS s2y,
         sum(CAST(yi AS HUGEINT) * yi) AS syy0
  FROM data GROUP BY route_type, fold
),
totals AS (
  SELECT route_type,
         sum(n) AS t_n, sum(s1) AS t_s1, sum(s2) AS t_s2,
         sum(s11) AS t_s11, sum(s22) AS t_s22, sum(s12) AS t_s12,
         sum(sy0) AS t_sy0, sum(s1y) AS t_s1y, sum(s2y) AS t_s2y,
         sum(syy0) AS t_syy0
  FROM fstats GROUP BY route_type
),
tr AS (
  SELECT f.route_type, f.fold,
         CAST(t.t_n - f.n AS DOUBLE) AS nd,
         CAST(t.t_s1 - f.s1 AS DOUBLE) AS se,
         CAST(t.t_s2 - f.s2 AS DOUBLE) / 100.0 AS sp,
         CAST(t.t_s11 - f.s11 AS DOUBLE) AS see,
         CAST(t.t_s22 - f.s22 AS DOUBLE) / 10000.0 AS spp,
         CAST(t.t_s12 - f.s12 AS DOUBLE) / 100.0 AS sep,
         CAST(t.t_sy0 - f.sy0 AS DOUBLE) / 1000000.0 AS sy,
         CAST(t.t_s1y - f.s1y AS DOUBLE) / 1000000.0 AS sey,
         CAST(t.t_s2y - f.s2y AS DOUBLE) / 100000000.0 AS spy,
         CAST(t.t_syy0 - f.syy0 AS DOUBLE) / 1000000000000.0 AS syy,
         CAST(t.t_n - f.n AS BIGINT) AS n_train,
         CAST(f.n AS BIGINT) AS n_test,
         CAST(f.n AS DOUBLE) AS te_nd,
         CAST(f.s1 AS DOUBLE) AS te_se,
         CAST(f.s2 AS DOUBLE) / 100.0 AS te_sp,
         CAST(f.s11 AS DOUBLE) AS te_see,
         CAST(f.s22 AS DOUBLE) / 10000.0 AS te_spp,
         CAST(f.s12 AS DOUBLE) / 100.0 AS te_sep,
         CAST(f.sy0 AS DOUBLE) / 1000000.0 AS te_sy,
         CAST(f.s1y AS DOUBLE) / 1000000.0 AS te_sey,
         CAST(f.s2y AS DOUBLE) / 100000000.0 AS te_spy,
         CAST(f.syy0 AS DOUBLE) / 1000000000000.0 AS te_syy
  FROM fstats f JOIN totals t USING (route_type)
),
coefs AS (
  SELECT route_type, fold, n_train, n_test,
         te_nd, te_se, te_sp, te_see, te_spp, te_sep,
         te_sy, te_sey, te_spy, te_syy,
         {we} AS we, {wp} AS wp, {b0} AS b0
  FROM tr
)
SELECT route_type, fold, n_train, n_test,
       round(sqrt(greatest(te_syy
                           - 2 * (we * te_sey + wp * te_spy + b0 * te_sy)
                           + (we * we * te_see + wp * wp * te_spp
                              + b0 * b0 * te_nd
                              + 2 * (we * wp * te_sep + we * b0 * te_se
                                     + wp * b0 * te_sp)), 0.0)
                  / te_nd), 4) AS rmse_cv
FROM coefs
ORDER BY route_type, fold"""
