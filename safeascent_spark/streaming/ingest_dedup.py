"""Streaming ingest dedup: microbatches of new documents deduplicated
against a static, pre-materialized corpus signature index (§2.9 + P6).

This is the streaming form of ``operators.dedup.q_dedup_incremental``:
a production pipeline ingests document batches continuously (file drops,
Kafka topics) and must decide keep/drop per document *at ingest time*
against the corpus indexed so far.  The corpus's MinHash signatures and
the vocabulary dim are computed ONCE and reused across every microbatch
(in production they live in the signature store); each microbatch only
pays signatures for its own documents plus the band-collision join.

Shape: ``foreachBatch`` composing the batch operator over the stream —
the standard way to run a broadcast-join + aggregation pipeline per
microbatch when the logic is already expressed as batch DataFrame ops.
The per-batch plan is identical to the batch query's (batch side
broadcasts, corpus index streams), so verdicts are bit-identical to
running ``q_dedup_incremental`` on the same documents — the equivalence
the test asserts.

Out-of-vocabulary tokens in incoming documents drop before shingling
(documented behavior of ``shingles_of``): the corpus vocabulary defines
the signature space, exactly as a pre-built signature store would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import domain
from ..operators import dedup as D
from ..operators import text as T


def corpus_index(spark: SparkSession, sf_dir: str):
    """(old_sig, vocab, vsize): the static signature index for the already
    ingested corpus (docs OUTSIDE the incoming-batch slice) + the frozen
    vocabulary.  localCheckpoint truncates the shingle/vocab lineage so
    every microbatch reuses the materialized index instead of recomputing
    it."""
    def build():
        sig = D.minhash_df(spark, sf_dir)
        old_sig = sig.filter(
            F.col("doc_id") % D.INCR_NEW_MOD != D.INCR_NEW_REM)
        vocab = T.vocab_df(spark, sf_dir)
        vsize = vocab.count() + 1
        return (old_sig.localCheckpoint(eager=True),
                vocab.localCheckpoint(eager=True), vsize)
    return domain.session_memo(spark, "ingest_dedup_index", sf_dir, build)


def incoming_doc_stream(spark: SparkSession, sf_dir: str,
                        glob: str = "documents.parquet",
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of the incoming documents (the batch slice of
    the documents table stands in for the ingest feed).  ``glob`` selects
    the feed files; ``max_files_per_trigger`` bounds each microbatch (the
    restart-recovery test uses it to force a multi-epoch run)."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    reader = (spark.readStream
                   .schema(schema)
                   .option("pathGlobFilter", glob))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (reader.parquet(sf_dir)
                  .filter(F.col("doc_id") % D.INCR_NEW_MOD
                          == D.INCR_NEW_REM))


def batch_verdicts(batch_df: DataFrame, spark: SparkSession,
                   sf_dir: str) -> DataFrame:
    """Verdicts for one microbatch of documents vs the static index."""
    old_sig, vocab, vsize = corpus_index(spark, sf_dir)
    new_sig = D.minhash_of(
        D.shingles_of(batch_df.select("doc_id", "text"), vocab, vsize))
    return D.incremental_verdicts(new_sig, old_sig)


def run_ingest_dedup(spark: SparkSession, sf_dir: str, out_path: str,
                     timeout_sec: int = 120,
                     glob: str = "documents.parquet",
                     max_files_per_trigger: int | None = None,
                     fail_at_epoch: int | None = None) -> int:
    """One availableNow pass of the ingest-dedup stream, writing each
    microbatch's verdicts as parquet under ``out_path``.  Returns the
    number of non-empty microbatches.  In production the sink would be
    the txlog MERGE path, as in ``streaming.refresh``.

    EXACTLY-ONCE contract: ``foreachBatch`` is at-least-once — a crash
    between the sink write and the checkpoint commit replays the epoch on
    restart.  Verdicts are therefore written IDEMPOTENTLY, keyed by epoch
    id (``out_path/epoch=<id>``, mode=overwrite): a replayed epoch
    overwrites its own directory instead of appending duplicates, and the
    file source's WAL replans the SAME files for an uncommitted epoch, so
    the rewrite is byte-equivalent.  This is the standard epochId-based
    idempotence pattern for foreachBatch sinks.

    ``fail_at_epoch`` injects a crash AFTER the sink write of that epoch
    but BEFORE its checkpoint commit — the worst-case window — for the
    restart-recovery test.
    """
    batches = {"n": 0}

    def handle(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        batches["n"] += 1
        (batch_verdicts(batch_df, spark, sf_dir)
         .write.mode("overwrite").parquet(f"{out_path}/epoch={epoch}"))
        if fail_at_epoch is not None and epoch >= fail_at_epoch:
            raise RuntimeError(f"injected crash after epoch {epoch} sink "
                               "write, before checkpoint commit")

    q = (incoming_doc_stream(spark, sf_dir, glob=glob,
                             max_files_per_trigger=max_files_per_trigger)
         .writeStream
         .foreachBatch(handle)
         .trigger(availableNow=True)
         .option("checkpointLocation", out_path + "_ckpt")
         .start())
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    return batches["n"]


def read_verdicts(spark: SparkSession, out_path: str) -> DataFrame:
    """All verdicts written so far, without the epoch partition column."""
    return spark.read.parquet(out_path).drop("epoch")
