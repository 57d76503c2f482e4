"""Structured-Streaming re-expression of the daily refresh (SURVEY.md §2.9).

The reference has no streaming runtime — freshness is a 2am Celery cron plus
cache TTLs (celery_app.py:51-61, utils/cache.py:24-27).  The Spark-native
equivalent is a weather-update stream driving incremental re-scoring:

  weather events stream -> per-bucket aggregate -> foreachBatch:
      recompute the weather dimension for the touched buckets and
      overwrite the affected partitions of the score table.

This module implements that shape against a file source (the synthetic
events parquet) with an availableNow trigger so it is testable in CI; on a
cluster the same code points at a Kafka/file drop-zone and runs
continuously.  Watermarking is included for the late-data contract even
though the batch reference has no analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import domain

def weather_update_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of weather observations (events as the feed).

    The stream declares the file's PHYSICAL schema (one batch footer read —
    streaming sources cannot infer), then normalizes ``ts`` to the canonical
    ns-long form exactly like the batch path, so the same downstream
    expressions run against either event-time representation the driver
    ships (TIMESTAMP(NANOS) or timestamp[us]).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return domain.ts_to_nanos(
        spark.readStream
             .schema(raw_schema)
             .option("pathGlobFilter", "events.parquet")
             .parquet(sf_dir))


def bucket_updates(stream: DataFrame) -> DataFrame:
    """Per-bucket windowed aggregate with event-time watermark.

    The event time is reconstructed from the nanosecond long; a 1-hour
    watermark bounds state for late observations.
    """
    with_time = stream.withColumn(
        "event_time", F.timestamp_seconds(F.expr("ts div 1000000000")))
    return (with_time
            .withWatermark("event_time", "1 hour")
            .groupBy(F.window("event_time", "1 day").alias("day_window"),
                     (F.col("user_id") % domain.N_WBUCKETS).alias("wbucket"))
            .agg(F.avg("value").alias("v_avg"),
                 F.count(F.lit(1)).alias("n_obs")))


def run_refresh(spark: SparkSession, sf_dir: str, out_path: str,
                timeout_sec: int = 120) -> int:
    """One availableNow pass: stream -> per-bucket aggregates -> foreachBatch
    upsert into the weather-dimension path.  Returns micro-batches processed.

    foreachBatch is where incremental re-scoring hooks in: the touched
    wbuckets identify which locations' scores must be recomputed — the
    streaming analog of the reference's per-date recompute loop
    (safety_computation_optimized.py:954-1019).
    """
    batches = {"n": 0}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batches["n"] += 1
        # availableNow can emit a trailing empty commit batch; overwriting
        # with it would wipe the dimension.
        if batch_df.isEmpty():
            return
        (batch_df
         .withColumn("day", F.col("day_window.start").cast("date"))
         .drop("day_window")
         .write.mode("overwrite").parquet(out_path))

    q = (bucket_updates(weather_update_stream(spark, sf_dir))
         .writeStream
         .outputMode("update")
         .foreachBatch(upsert)
         .trigger(availableNow=True)
         .option("checkpointLocation", out_path + "_ckpt")
         .start())
    q.awaitTermination(timeout_sec)
    q.stop()
    return batches["n"]


def run_incremental_scores(spark: SparkSession, sf_dir: str,
                           table_root: str,
                           pred_date: str = domain.PRED_DATE,
                           timeout_sec: int = 180) -> int:
    """Streaming incremental score maintenance into the versioned table.

    Each microbatch's touched weather buckets identify the affected
    locations; ONLY their routes are re-scored (the route subset rides
    below the scoring pair join) and the fresh rows are row-level MERGEd
    into the txlog table — an atomic, optimistically-committed snapshot per
    microbatch, safe against a concurrent nightly writer.  This is the
    streaming analog of the reference's per-date recompute + ON CONFLICT
    upsert (safety_computation_optimized.py:954-1019, 827-905) with the
    Redis tier replaced by snapshot reads.

    The touched-bucket collect is bounded by N_WBUCKETS (the weather grid),
    not by data volume.  Returns the micro-batches MERGEd (one committed
    version each).
    """
    from .. import txlog
    from ..operators import scoring

    batches = {"n": 0}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the touched-bucket collect is also the emptiness check: an empty
        # batch (availableNow's trailing commit) touches none and MERGEs
        # nothing, so it is not counted
        buckets = [int(r.wbucket) for r in
                   batch_df.select("wbucket").distinct().collect()]
        if not buckets:
            return
        batches["n"] += 1
        locs = (domain.locations_df(spark, sf_dir)
                .filter(F.col("wbucket").isin(buckets))
                .select("location_id"))
        routes = (domain.routes_df(spark, sf_dir)
                  .join(F.broadcast(locs), "location_id"))
        scores = scoring.risk_scores_df(spark, sf_dir, pred_date,
                                        routes=routes)
        txlog.merge_scores(scores, table_root, pred_date)

    q = (bucket_updates(weather_update_stream(spark, sf_dir))
         .writeStream
         .outputMode("update")
         .foreachBatch(merge_batch)
         .trigger(availableNow=True)
         .option("checkpointLocation", table_root + "_ckpt")
         .start())
    q.awaitTermination(timeout_sec)
    q.stop()
    return batches["n"]
