"""Round-5 txlog additions: deletion vectors (merge-on-read row deletes)
and the commit-grain streaming source (Delta readStream/CDF analog)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from safeascent_spark import txlog
from safeascent_spark.streaming import txlog_source as TS


def _df(spark, rows):
    return spark.createDataFrame(rows, "route_id bigint, score double") \
        .coalesce(1).localCheckpoint()


# --- deletion vectors --------------------------------------------------------

def test_delete_where_is_merge_on_read(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]), root, "d")
    before = {e["path"] for e in txlog.read_manifest(root)["partitions"]["d"]}
    v = txlog.delete_where(spark, root, "d", "score >= 3.0")
    m = txlog.read_manifest(root)
    # every original data file is still referenced untouched — the delete
    # wrote only a tombstone entry
    entries = m["partitions"]["d"]
    assert before <= {e["path"] for e in entries}
    tombs = [e for e in entries if e.get("tombstone")]
    assert len(tombs) >= 1 and m["version"] == v
    got = sorted(r["route_id"] for r in
                 txlog.read_snapshot(spark, root, partition="d").collect())
    assert got == [1, 2]
    # time travel to the pre-delete version still sees all rows
    old = txlog.read_snapshot(spark, root, version=v - 1, partition="d")
    assert old.count() == 4


def test_delete_where_noop_when_nothing_matches(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = txlog.commit_overwrite_partition(_df(spark, [(1, 1.0)]), root, "d")
    assert txlog.delete_where(spark, root, "d", "score > 99") == v1
    assert txlog.delete_where(spark, root, "missing", "true") == v1
    assert txlog.current_version(root) == v1  # no empty-tombstone commits


def test_deletes_accumulate_and_compact_materializes(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(
        _df(spark, [(i, float(i)) for i in range(10)]), root, "d")
    txlog.delete_where(spark, root, "d", "route_id < 2")
    txlog.delete_where(spark, root, "d", "route_id >= 8")
    got = sorted(r["route_id"] for r in
                 txlog.read_snapshot(spark, root, partition="d").collect())
    assert got == [2, 3, 4, 5, 6, 7]
    txlog.compact(spark, root, "d", target_files=1)
    entries = txlog.read_manifest(root)["partitions"]["d"]
    assert not any(e.get("tombstone") for e in entries)  # materialized
    got2 = sorted(r["route_id"] for r in
                  txlog.read_snapshot(spark, root, partition="d").collect())
    assert got2 == got


def test_merge_does_not_resurrect_deleted_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), root, "d")
    txlog.delete_where(spark, root, "d", "route_id = 2")
    txlog.merge_scores(_df(spark, [(3, 30.0)]), root, "d")
    got = {(r["route_id"], r["score"]) for r in
           txlog.read_snapshot(spark, root, partition="d").collect()}
    assert got == {(1, 1.0), (3, 30.0)}  # key 2 stays dead


def test_delete_surfaces_in_change_feed(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0)]), root, "d")
    v2 = txlog.delete_where(spark, root, "d", "route_id = 1")
    ch = {(r["route_id"], r["_change_type"]) for r in
          txlog.table_changes(spark, root, v1, v2).collect()}
    assert ch == {(1, "delete")}


def test_key_skipping_still_correct_with_tombstones(spark, tmp_path):
    root = str(tmp_path / "t")
    # two files with disjoint key ranges, so key_between prunes one
    lo = _df(spark, [(i, float(i)) for i in range(0, 50)])
    hi = _df(spark, [(i, float(i)) for i in range(100, 150)])
    txlog.commit_overwrite_partition(
        lo.unionByName(hi).repartitionByRange(2, "route_id")
          .localCheckpoint(), root, "d")
    txlog.delete_where(spark, root, "d", "route_id IN (10, 120)")
    got = sorted(r["route_id"] for r in
                 txlog.read_snapshot(spark, root, partition="d",
                                     key_between=(0, 49)).collect())
    assert got == [i for i in range(50) if i != 10]
    got_hi = sorted(r["route_id"] for r in
                    txlog.read_snapshot(spark, root, partition="d",
                                        key_between=(100, 149)).collect())
    assert got_hi == [i for i in range(100, 150) if i != 120]


# --- commit-grain streaming source -------------------------------------------

def _feed(spark, out):
    return {(r["route_id"], r["score"], r["_change_type"], r["version"])
            for r in TS.read_change_log(spark, out).collect()}


def test_stream_replays_each_commit_and_advances_cursor(spark, tmp_path):
    root, ckpt, out = (str(tmp_path / n) for n in ("t", "ckpt", "out"))
    v1 = txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0)]), root, "d")
    v2 = txlog.merge_scores(_df(spark, [(2, 2.5), (3, 3.0)]), root, "d")
    v3 = txlog.delete_where(spark, root, "d", "route_id = 1")
    done = TS.run_table_stream_to_parquet(spark, root, ckpt, out)
    assert done == [v1, v2, v3]
    assert TS.read_cursor(ckpt) == v3
    assert _feed(spark, out) == {
        (1, 1.0, "insert", v1), (2, 2.0, "insert", v1),
        (2, 2.5, "update_postimage", v2), (3, 3.0, "insert", v2),
        (1, 1.0, "delete", v3)}
    # second pass with nothing new: no sink calls, cursor unchanged
    assert TS.run_table_stream_to_parquet(spark, root, ckpt, out) == []


def test_stream_skips_maintenance_commits(spark, tmp_path):
    root, ckpt, out = (str(tmp_path / n) for n in ("t", "ckpt", "out"))
    txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0)]), root, "d")
    TS.run_table_stream_to_parquet(spark, root, ckpt, out)
    vc = txlog.compact(spark, root, "d", target_files=1)
    assert TS.run_table_stream_to_parquet(spark, root, ckpt, out) == []
    assert TS.read_cursor(ckpt) == vc  # cursor passes the empty commit


def test_stream_restart_is_exactly_once(spark, tmp_path):
    root, ckpt, out = (str(tmp_path / n) for n in ("t", "ckpt", "out"))
    v1 = txlog.commit_overwrite_partition(_df(spark, [(1, 1.0)]), root, "d")
    v2 = txlog.merge_scores(_df(spark, [(1, 1.5)]), root, "d")
    v3 = txlog.merge_scores(_df(spark, [(7, 7.0)]), root, "d")
    # crash in the worst-case window: v2's sink ran, cursor still at v1
    with pytest.raises(RuntimeError, match="injected crash"):
        TS.run_table_stream_to_parquet(spark, root, ckpt, out,
                                       fail_after_version=v2)
    assert TS.read_cursor(ckpt) == v1
    # restart: v2 replays (idempotent overwrite), v3 processes once
    done = TS.run_table_stream_to_parquet(spark, root, ckpt, out)
    assert done == [v2, v3]
    assert _feed(spark, out) == {
        (1, 1.0, "insert", v1),
        (1, 1.5, "update_postimage", v2),
        (7, 7.0, "insert", v3)}  # no duplicate, no loss


# --- pre-images + incremental aggregate maintenance --------------------------

def test_preimages_tag_old_values(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0)]), root, "d")
    v2 = txlog.merge_scores(_df(spark, [(2, 9.0), (3, 3.0)]), root, "d")
    ch = txlog.table_changes(spark, root, v1, v2, include_preimages=True)
    got = {(r["route_id"], r["score"], r["_change_type"])
           for r in ch.collect()}
    assert got == {(2, 2.0, "update_preimage"),
                   (2, 9.0, "update_postimage"),
                   (3, 3.0, "insert")}


def test_incremental_mv_maintenance_tracks_full_recompute(spark, tmp_path):
    """The materialized-view identity: per-partition (sum, count)
    maintained ONLY from the change feed equals full recompute after
    every commit — inserts, updates, merge-on-read deletes, and a
    maintenance compaction (which must contribute nothing)."""
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]), root, "d1")
    txlog.commit_overwrite_partition(_df(spark, [(9, 9.0)]), root, "d2")
    txlog.merge_scores(_df(spark, [(2, 20.0), (4, 4.0)]), root, "d1")
    txlog.delete_where(spark, root, "d1", "route_id = 3")
    txlog.compact(spark, root, "d1", target_files=1)
    txlog.merge_scores(_df(spark, [(9, 0.5)]), root, "d2")

    state: dict[str, tuple[float, int]] = {}
    for v in range(1, txlog.current_version(root) + 1):
        ch = txlog.table_changes(spark, root, v - 1, v,
                                 include_preimages=True)
        if ch.isEmpty():
            continue
        delta = TS.incremental_sum_delta(ch, ["_partition"], "score")
        for r in delta.collect():
            s, n = state.get(r["_partition"], (0.0, 0))
            state[r["_partition"]] = (s + r["score_delta"],
                                      n + r["row_delta"])
    # full recompute from the head snapshot
    snap = txlog.read_snapshot(spark, root)
    truth = {r["prediction_date"]: (r["s"], r["n"]) for r in
             snap.groupBy("prediction_date")
                 .agg(F.sum("score").alias("s"),
                      F.count(F.lit(1)).alias("n")).collect()}
    assert {k: (round(v[0], 9), v[1]) for k, v in state.items()} \
        == {k: (round(v[0], 9), v[1]) for k, v in truth.items()}
