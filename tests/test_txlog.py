"""Versioned-manifest table format: atomic swap, MERGE, races, time travel."""

from __future__ import annotations

import json
import uuid

import pytest

from safeascent_spark import txlog as T

D = "2024-06-15"


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "route_id bigint, risk_score double")


def _snap(spark, root, version=None):
    return {r.route_id: r.risk_score
            for r in T.read_snapshot(spark, root, version).collect()}


def test_overwrite_and_read_snapshot(spark, tmp_path):
    root = str(tmp_path / "t")
    v = T.commit_overwrite_partition(_rows(spark, [(1, 10.0), (2, 20.0)]),
                                     root, D)
    assert v == 1
    assert _snap(spark, root) == {1: 10.0, 2: 20.0}
    # partition column is attached from the manifest key
    row = T.read_snapshot(spark, root).collect()[0]
    assert row.prediction_date == D


def test_merge_is_latest_wins_insert_or_update(spark, tmp_path):
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 10.0), (2, 20.0)]), root, D)
    v = T.merge_scores(_rows(spark, [(2, 99.0), (3, 30.0)]), root, D)
    assert v == 2
    assert _snap(spark, root) == {1: 10.0, 2: 99.0, 3: 30.0}


_IN_FLIGHT = {
    "merge_scores": (lambda spark, root: T.merge_scores(
        _rows(spark, [(1, 11.0)]), root, D), {1: 11.0, 7: 70.0}),
    # the rebased layer must sit ABOVE the interloper's layer of the same
    # key: its sequence number is taken from the base it finally commits on
    "merge_same_key": (lambda spark, root: T.merge_scores(
        _rows(spark, [(7, 77.0)]), root, D), {1: 10.0, 7: 77.0}),
    "compact": (lambda spark, root: T.compact(spark, root, D, target_files=1),
                {1: 10.0, 7: 70.0}),
    "cluster_zorder": (lambda spark, root: T.cluster_zorder(
        spark, root, D, cols=("risk_score",), target_files=1),
        {1: 10.0, 7: 70.0}),
}


@pytest.mark.parametrize("writer", sorted(_IN_FLIGHT))
def test_commit_race_rebases_and_keeps_both_writes(spark, tmp_path, writer,
                                                   monkeypatch):
    """A MERGE that lands BETWEEN a writer's read and its publish: the
    writer's first publish must fail (version taken) and its retry must
    rewrite on top of the interloper's rows, not clobber them."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 10.0)]), root, D)
    write, want = _IN_FLIGHT[writer]
    fired = {"done": False}
    orig_publish = T._publish

    def race_once(r, manifest):
        if not fired["done"]:
            fired["done"] = True
            # interloper commits while the writer is in flight
            T.merge_scores(_rows(spark, [(7, 70.0)]), root, D)
        return orig_publish(r, manifest)

    monkeypatch.setattr(T, "_publish", race_once)
    write(spark, root)
    monkeypatch.undo()
    assert _snap(spark, root) == want
    assert T.current_version(root) == 3  # base + interloper + rebased retry


def test_time_travel_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 10.0)]), root, D)
    T.commit_overwrite_partition(_rows(spark, [(1, 99.0)]), root, D)
    assert _snap(spark, root, version=1) == {1: 10.0}
    assert _snap(spark, root, version=2) == {1: 99.0}
    # default grace window: v1's files are unreferenced but FRESH — a
    # concurrent writer's unpublished files look exactly like this, so
    # vacuum must leave them alone (r3 ADVICE item 1)
    assert T.vacuum(root, keep_versions=1) == []
    assert _snap(spark, root, version=1) == {1: 10.0}  # still readable
    removed = T.vacuum(root, keep_versions=1, grace_seconds=0)
    assert removed, "past the grace window, v1's files should be deleted"
    assert _snap(spark, root) == {1: 99.0}  # head intact


def test_vacuum_grace_protects_inflight_writer(spark, tmp_path):
    """A writer that has materialized data files but not yet published its
    manifest must survive a concurrent vacuum: its files are unreferenced
    by ANY manifest, yet inside the grace window."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 10.0)]), root, D)
    # simulate the unreferenced-until-commit window of a second writer
    pending = T._write_data_files(_rows(spark, [(2, 20.0)]), root)
    assert T.vacuum(root, keep_versions=1) == []
    # the in-flight writer now publishes; its files must still exist
    v = T._retrying_commit(root, lambda base: {
        D: base["partitions"].get(D, []) + pending})
    assert v == 2
    assert _snap(spark, root) == {1: 10.0, 2: 20.0}


def test_compact_missing_partition_is_noop(spark, tmp_path):
    """compact() on an absent/empty partition must not commit anything
    (r3 ADVICE item 2: it used to commit the empty-fallback schema)."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 10.0)]), root, D)
    v = T.compact(spark, root, "2099-01-01")
    assert v == 1 and T.current_version(root) == 1
    assert _snap(spark, root) == {1: 10.0}


def test_partition_isolation(spark, tmp_path):
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 10.0)]), root, "2024-06-15")
    T.commit_overwrite_partition(_rows(spark, [(2, 20.0)]), root, "2024-06-16")
    one = T.read_snapshot(spark, root, partition="2024-06-15").collect()
    assert [r.route_id for r in one] == [1]
    assert len(T.read_snapshot(spark, root).collect()) == 2


def test_streaming_incremental_scores_merge(spark, tmp_path):
    """foreachBatch -> txlog MERGE: after one availableNow pass over the
    events feed, the snapshot holds exactly the batch-computed scores for
    the routes whose location's weather bucket was touched by the stream —
    and ONLY those (incremental maintenance refreshes affected routes, not
    the whole table) — committed as one atomic version per microbatch."""
    from safeascent_spark.streaming import refresh as R
    from safeascent_spark.operators import scoring
    from safeascent_spark import domain
    from pyspark.sql import functions as F
    root = str(tmp_path / "scores")
    sf = "/root/testdata/sf0.001"
    n = R.run_incremental_scores(spark, sf, root)
    assert n >= 1
    got = {r.route_id: r.risk_score
           for r in T.read_snapshot(spark, root).collect()}
    want = {r.route_id: r.risk_score
            for r in scoring.risk_scores_df(spark, sf).collect()}
    touched = {int(r.wbucket) for r in
               R.bucket_updates(
                   spark.read.parquet(f"{sf}/events.parquet")
                        .transform(domain.ts_to_nanos))
                .select("wbucket").distinct().collect()}
    expected_routes = {
        r.route_id for r in domain.routes_df(spark, sf)
        .join(domain.locations_df(spark, sf), "location_id")
        .filter(F.col("wbucket").isin(sorted(touched)))
        .select("route_id").collect()}
    assert set(got) == expected_routes and len(got) > 0
    assert all(got[k] == want[k] for k in got)
    assert T.current_version(root) == n


def test_manifest_data_skipping_prunes_files(spark, tmp_path):
    """Files whose footer-derived key range is disjoint from the predicate
    must never be opened: commit range-partitioned files, read with
    key_between, and assert the scan's file list shrank while results stay
    exact."""
    from pyspark.sql import functions as F
    root = str(tmp_path / "t")
    df = (spark.range(0, 1000)
          .select(F.col("id").alias("route_id"),
                  (F.col("id") * 1.0).alias("risk_score"))
          .repartitionByRange(4, "route_id"))
    T.commit_overwrite_partition(df, root, D)
    m = T.read_manifest(root)
    entries = m["partitions"][D]
    assert len(entries) == 4
    assert all(e["min_key"] is not None for e in entries)
    narrow = T.read_snapshot(spark, root, key_between=(100, 120))
    assert len(narrow.inputFiles()) < len(entries)
    rows = sorted(r.route_id for r in narrow.collect())
    assert rows == list(range(100, 121))


def test_compact_rewrites_small_files_atomically(spark, tmp_path):
    """Many tiny MERGE deltas -> one compaction -> fewer files, same rows,
    and the pre-compaction version still reads (snapshot isolation)."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 1.0)]), root, D)
    for i in range(2, 6):
        T.merge_scores(_rows(spark, [(i, float(i))]), root, D)
    before_v = T.current_version(root)
    n_before = len(T.read_manifest(root)["partitions"][D])
    v = T.compact(spark, root, D, target_files=1)
    assert v == before_v + 1
    assert len(T.read_manifest(root)["partitions"][D]) == 1 < n_before
    assert _snap(spark, root) == {i: float(i) for i in range(1, 6)}
    # pre-compaction snapshot still readable until vacuum
    assert _snap(spark, root, version=before_v) == _snap(spark, root)


TWO_PROC_CHILD = r"""
import pathlib, sys, time

root, idx = sys.argv[1], int(sys.argv[2])
sys.path.insert(0, sys.argv[3])

from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from safeascent_spark import txlog

go = pathlib.Path(root) / "GO"
while not go.exists():
    time.sleep(0.05)
for i in range(5):
    rows = [(idx * 1000 + i * 10 + j, float(idx)) for j in range(5)]
    df = spark.createDataFrame(rows, "route_id bigint, risk_score double")
    txlog.merge_scores(df, root, "2024-06-15")
    # concurrent vacuum: the grace window must protect the OTHER
    # process's written-but-unpublished data directories
    txlog.vacuum(root, keep_versions=1, grace_seconds=600.0)
print("CHILD_OK", idx)
"""


def test_two_process_commit_contention(spark, tmp_path):
    """VERDICT r4 item 5: optimistic commits must survive contention from
    two separate OS PROCESSES (distinct JVMs, so the only coordination is
    the filesystem protocol itself: os.link atomicity + rebase-retry).
    Both writers' every merge must land — distinct versions, no lost
    rows — while each concurrently vacuums with the grace window
    protecting the other's in-flight unpublished files."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    root = str(tmp_path / "table")
    child = tmp_path / "child.py"
    child.write_text(TWO_PROC_CHILD)
    repo = str(Path(__file__).resolve().parent.parent)
    procs = [subprocess.Popen(
        [_sys.executable, str(child), root, str(idx), repo],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for idx in (1, 2)]
    import time
    time.sleep(5)                      # let both sessions come up
    (tmp_path / "table").mkdir(exist_ok=True)
    (tmp_path / "table" / "GO").touch()
    outs = [p.communicate(timeout=300) for p in procs]
    # keep the stderr tail in the assertion message: a child that dies
    # before its final print otherwise reports only "rc != 0, stdout ''"
    diag = [(p.returncode, o[-300:], e[-2000:]) for p, (o, e) in zip(procs, outs)]
    assert all(p.returncode == 0 for p in procs), diag
    assert all(f"CHILD_OK {i}" in o for i, (o, _) in zip((1, 2), outs)), diag

    from safeascent_spark import txlog
    # every commit landed: 10 merges -> 10 distinct versions
    assert txlog.current_version(root) == 10
    snap = txlog.read_snapshot(spark, root, partition="2024-06-15")
    got = {r.route_id: r.risk_score for r in snap.collect()}
    want = {idx * 1000 + i * 10 + j: float(idx)
            for idx in (1, 2) for i in range(5) for j in range(5)}
    assert got == want, f"lost rows: {set(want) - set(got)}"
    # post-hoc vacuum keeps the head snapshot intact
    txlog.vacuum(root, keep_versions=1, grace_seconds=0.0)
    again = {r.route_id: r.risk_score
             for r in txlog.read_snapshot(
                 spark, root, partition="2024-06-15").collect()}
    assert again == want


def test_bloom_point_lookup_prunes_hash_distributed_files(spark, tmp_path):
    """min/max ranges cannot prune a point lookup when keys are
    hash-distributed (every file spans ~the full key range); the per-file
    Bloom filter committed with bloom_key=True must do it: the lookup
    opens fewer files than the manifest lists and still returns the exact
    row.  A key that was never written prunes to zero files."""
    from pyspark.sql import functions as F
    root = str(tmp_path / "t")
    df = (spark.range(0, 2000)
          .select(F.col("id").alias("route_id"),
                  (F.col("id") * 1.0).alias("risk_score"))
          .repartition(4, "route_id"))        # hash layout: wide ranges
    T.commit_overwrite_partition(df, root, D, bloom_key=True)
    entries = T.read_manifest(root)["partitions"][D]
    assert len(entries) == 4
    assert all("bloom" in e for e in entries)
    # every file spans nearly the whole range -> range-skipping is useless
    assert all(e["min_key"] < 100 and e["max_key"] > 1900 for e in entries)

    hit = T.read_snapshot(spark, root, key_eq=123)
    assert len(hit.inputFiles()) < 4          # bloom pruned siblings
    rows = hit.collect()
    assert len(rows) == 1 and rows[0].route_id == 123
    assert rows[0].risk_score == 123.0

    miss = T.read_snapshot(spark, root, key_eq=999_999)
    assert miss.count() == 0                  # all files bloom-pruned


def test_bloom_survives_merge_and_exactness_under_fp(spark, tmp_path):
    """A MERGE layer gets Bloom filters when the partition's files have
    them, and compaction keeps them, so a point lookup after either still
    opens fewer files than the manifest lists.  The bloom is advisory: a surviving false-positive file
    only costs a read — the exact key filter still applies.  Probe every
    key and assert each returns exactly its own row (no fp can leak rows)."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(
        _rows(spark, [(i, float(i)) for i in range(0, 100, 2)]).repartition(3),
        root, D, bloom_key=True)
    # one source file spanning the whole key range: min/max alone can no
    # longer prune any file of the merged partition
    T.merge_scores(_rows(spark, [(0, -1.0), (98, -98.0), (51, 51.0)])
                   .coalesce(1), root, D)
    want = {i: float(i) for i in range(0, 100, 2)}
    want.update({0: -1.0, 98: -98.0, 51: 51.0})
    live = T.read_manifest(root)["partitions"][D]
    assert len(live) >= 2 and all("bloom" in e for e in live)
    assert len(T.read_snapshot(spark, root, key_eq=24).inputFiles()) \
        < len(live)
    for k in sorted(want):
        rows = T.read_snapshot(spark, root, key_eq=k).collect()
        assert [(r.route_id, r.risk_score) for r in rows] == [(k, want[k])]

    T.compact(spark, root, D, target_files=2)
    live = T.read_manifest(root)["partitions"][D]
    assert all("bloom" in e for e in live)
    # 25 lies inside every file's key range but was never written
    miss = T.read_snapshot(spark, root, key_eq=25)
    assert miss.inputFiles() == [] and miss.count() == 0
    for k in (0, 24, 51, 98):
        rows = T.read_snapshot(spark, root, key_eq=k).collect()
        assert [(r.route_id, r.risk_score) for r in rows] == [(k, want[k])]

    T.cluster_zorder(spark, root, D, cols=("risk_score",), target_files=2)
    assert all("bloom" in e for e in T.read_manifest(root)["partitions"][D])
    for k in (0, 24, 51, 98):
        rows = T.read_snapshot(spark, root, key_eq=k).collect()
        assert [(r.route_id, r.risk_score) for r in rows] == [(k, want[k])]


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` launches from this thread."""
    sc = spark.sparkContext
    group = f"txlog-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events landed
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_and_scan_run_one_job(spark, tmp_path):
    """The manifest records each file's schema, so a read hands it to Spark
    and launches no schema-inference job: a point lookup and a partition
    scan are one job each."""
    from pyspark.sql import functions as F
    root = str(tmp_path / "t")
    df = (spark.range(0, 200)
          .select(F.col("id").alias("route_id"),
                  (F.col("id") * 1.0).alias("risk_score"))
          .repartition(2, "route_id"))
    T.commit_overwrite_partition(df, root, D, bloom_key=True)
    T.merge_scores(_rows(spark, [(5, -5.0)]), root, D)
    assert all("schema" in e for e in T.read_manifest(root)["partitions"][D])
    got = []
    assert _jobs(spark, lambda: got.extend(
        T.read_snapshot(spark, root, key_eq=5).collect())) == 1
    assert [(r.route_id, r.risk_score) for r in got] == [(5, -5.0)]
    assert _jobs(spark, lambda: got.extend(
        T.read_snapshot(spark, root, partition=D).collect())) == 1
    assert len(got) == 1 + 200


def _strip_schemas(root, version):
    """Rewrite manifest ``version`` as written before schemas were
    recorded."""
    m = T.read_manifest(root, version)
    for entries in m["partitions"].values():
        for e in entries:
            e.pop("schema")
    T._manifest_path(root, version).write_text(json.dumps(m))


def test_recorded_schema_equals_inferred_schema(spark, tmp_path):
    """Reading with the recorded schema yields exactly the schema Spark
    infers from the files: a non-nullable bigint key, a timestamp and a
    struct (nested nullability included)."""
    from pyspark.sql import functions as F
    root = str(tmp_path / "t")
    df = (spark.range(0, 10).withColumnRenamed("id", "route_id")
          .withColumn("ts", F.timestamp_seconds(F.col("route_id")))
          .withColumn("loc", F.struct(
              F.col("route_id").alias("n"),
              (F.col("route_id") * 0.5).alias("x"))))
    assert not df.schema["route_id"].nullable
    T.commit_overwrite_partition(df, root, D)
    entries = T.read_manifest(root)["partitions"][D]
    assert all(e["schema"] == df.schema.json() for e in entries)
    snap = T.read_snapshot(spark, root).drop("prediction_date")
    files = [f"{root}/{e['path']}" for e in entries]
    assert snap.schema == spark.read.parquet(*files).schema
    assert sorted(map(tuple, snap.collect())) \
        == sorted(map(tuple, df.collect()))


def test_manifest_without_schemas_reads_same_rows(spark, tmp_path):
    """A manifest written before schemas were recorded falls back to
    inference and reads the same rows and schema."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(
        _rows(spark, [(i, float(i)) for i in range(20)]).repartition(2),
        root, D)
    before = T.read_snapshot(spark, root)
    rows = sorted(map(tuple, before.collect()))
    _strip_schemas(root, 1)
    assert not any("schema" in e
                   for e in T.read_manifest(root)["partitions"][D])
    after = T.read_snapshot(spark, root)
    assert after.schema == before.schema
    assert sorted(map(tuple, after.collect())) == rows
    hit = T.read_snapshot(spark, root, key_eq=7).collect()
    assert [(r.route_id, r.risk_score) for r in hit] == [(7, 7.0)]


def test_tombstoned_partition_reads_same_rows(spark, tmp_path):
    """Deletion-vector files carry their own recorded schema; a tombstoned
    partition reads the surviving rows with or without recorded schemas."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(
        _rows(spark, [(i, float(i)) for i in range(20)]), root, D)
    v = T.delete_where(spark, root, D, "route_id % 5 = 0")
    tombs = [e for e in T.read_manifest(root)["partitions"][D]
             if e.get("tombstone")]
    assert tombs and all("schema" in e for e in tombs)
    want = {i: float(i) for i in range(20) if i % 5}
    assert _snap(spark, root) == want
    assert T.read_snapshot(spark, root, key_eq=10).count() == 0
    _strip_schemas(root, v)
    assert _snap(spark, root) == want
    assert T.read_snapshot(spark, root, key_eq=10).count() == 0


def test_writers_release_their_checkpoints(spark, tmp_path):
    """No txlog writer leaves a checkpoint pinned once its commit
    returns."""
    pinned = lambda: spark.sparkContext._jsc.getPersistentRDDs().size()
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(
        _rows(spark, [(i, float(i)) for i in range(20)]), root, D)
    base = pinned()
    T.merge_scores(_rows(spark, [(3, 30.0), (40, 40.0)]), root, D)
    assert pinned() <= base
    T.compact(spark, root, D, target_files=1)
    assert pinned() <= base
    T.cluster_zorder(spark, root, D, cols=("risk_score",), target_files=2)
    assert pinned() <= base
    T.delete_where(spark, root, D, "route_id = 40")
    assert pinned() <= base
    want = {i: float(i) for i in range(20)}
    want[3] = 30.0
    assert _snap(spark, root) == want


def test_deleted_key_lookup_and_scan_run_one_job(spark, tmp_path):
    """A tombstone's keys are applied as a literal filter, not a
    broadcast anti-join, and it carries a Bloom filter when the
    partition's files do: after a delete, a lookup of the deleted key, a
    lookup of a live key and a partition scan each run one job."""
    from pyspark.sql import functions as F
    root = str(tmp_path / "t")
    df = (spark.range(0, 200)
          .select(F.col("id").alias("route_id"),
                  (F.col("id") * 1.0).alias("risk_score"))
          .repartition(2, "route_id"))
    T.commit_overwrite_partition(df, root, D, bloom_key=True)
    T.delete_where(spark, root, D, "route_id = 5")
    tombs = [e for e in T.read_manifest(root)["partitions"][D]
             if e.get("tombstone")]
    assert tombs and all("bloom" in e for e in tombs)
    got = []
    assert _jobs(spark, lambda: got.extend(
        T.read_snapshot(spark, root, key_eq=5).collect())) == 1
    assert got == []
    assert _jobs(spark, lambda: got.extend(
        T.read_snapshot(spark, root, key_eq=6).collect())) == 1
    assert [(r.route_id, r.risk_score) for r in got] == [(6, 6.0)]
    assert _jobs(spark, lambda: got.extend(
        T.read_snapshot(spark, root, partition=D).collect())) == 1
    assert sorted(r.route_id for r in got[1:]) \
        == [i for i in range(200) if i != 5]


def _strip_seqs(root, version):
    """Rewrite manifest ``version`` as written before layers were
    numbered."""
    m = T.read_manifest(root, version)
    for entries in m["partitions"].values():
        for e in entries:
            e.pop("seq", None)
    T._manifest_path(root, version).write_text(json.dumps(m))


def test_manifest_without_seqs_reads_same_rows(spark, tmp_path):
    """Tombstones committed before layers were numbered hide their keys
    in every data file of the partition: a manifest with its ``seq``
    fields stripped reads the same rows, and a MERGE on top of it still
    lands above the old tombstones."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(
        _rows(spark, [(i, float(i)) for i in range(20)]).repartition(2),
        root, D, bloom_key=True)
    T.delete_where(spark, root, D, "route_id < 3")
    v = T.delete_where(spark, root, D, "route_id % 5 = 4")
    want = {i: float(i) for i in range(20) if i >= 3 and i % 5 != 4}
    assert _snap(spark, root) == want
    _strip_seqs(root, v)
    assert not any("seq" in e
                   for e in T.read_manifest(root)["partitions"][D])
    assert _snap(spark, root) == want
    assert T.read_snapshot(spark, root, key_eq=9).count() == 0
    assert T.read_snapshot(spark, root, key_between=(0, 5)).count() == 2
    T.merge_scores(_rows(spark, [(1, -1.0), (9, -9.0)]), root, D)
    want.update({1: -1.0, 9: -9.0})
    assert _snap(spark, root) == want


@pytest.mark.parametrize("where", ["plain", "branch"])
def test_layers_match_dict_model(spark, tmp_path, where):
    """MERGE -> DELETE -> MERGE -> compact against a Python dict model.
    ``branch``: refs exist, so every commit goes through the branch
    commit path, and commits on a side branch make main's version
    numbers skip between its layers; the side branch stays untouched."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(
        _rows(spark, [(i, float(i)) for i in range(10)]).repartition(2),
        root, D, bloom_key=True)
    model = {i: float(i) for i in range(10)}
    side = {}

    def interleave(i):
        if where == "branch":
            T.commit_overwrite_partition(
                _rows(spark, [(100 + i, 0.0)]), root, "side-" + D,
                branch="side")
            side.clear()
            side[100 + i] = 0.0

    if where == "branch":
        T.create_branch(root, "side")
    steps = [
        lambda: T.merge_scores(
            _rows(spark, [(2, 20.0), (11, 11.0), (12, 12.0)]), root, D),
        lambda: T.delete_where(spark, root, D, "route_id IN (2, 3, 12)"),
        lambda: T.merge_scores(
            _rows(spark, [(3, 30.0), (4, 40.0)]), root, D),
        lambda: T.compact(spark, root, D, target_files=1),
    ]
    effects = [
        lambda: model.update({2: 20.0, 11: 11.0, 12: 12.0}),
        lambda: [model.pop(k) for k in (2, 3, 12)],
        lambda: model.update({3: 30.0, 4: 40.0}),
        lambda: None,
    ]
    for i, (step, effect) in enumerate(zip(steps, effects)):
        step()
        effect()
        interleave(i)
        assert _snap(spark, root) == model, i
        for k in (2, 3, 4, 11, 12):
            got = {r.route_id: r.risk_score for r in
                   T.read_snapshot(spark, root, key_eq=k).collect()}
            assert got == ({k: model[k]} if k in model else {}), (i, k)
    entries = T.read_manifest(root)["partitions"][D]
    assert not any("seq" in e or e.get("tombstone") for e in entries)
    if where == "branch":
        got = {r.route_id: r.risk_score for r in
               T.read_snapshot(spark, root, ref="side",
                               partition="side-" + D).collect()}
        assert got == side


def test_fully_deleted_partition_compact_and_zorder_are_noops(spark,
                                                              tmp_path):
    """A partition whose rows are all deleted has live files and no live
    rows: clustering has no bounds to quantize against and compaction
    would publish one empty file, so both return the current version."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(_rows(spark, [(1, 10.0), (2, 20.0)]),
                                 root, D)
    v = T.delete_where(spark, root, D, "true")
    before = T.read_manifest(root)
    assert T.cluster_zorder(spark, root, D, cols=("risk_score",)) == v
    assert T.compact(spark, root, D) == v
    assert T.current_version(root) == v
    assert T.read_manifest(root) == before
    assert _snap(spark, root) == {}


def test_column_ranges_never_prune_a_shadowing_layer(spark, tmp_path):
    """A MERGE that moves a key's value out of a ``cols_between`` range
    must still hide the old in-range value: column ranges prune data
    files, never the layers whose keys shadow them — even when a layer
    entry records column ranges."""
    root = str(tmp_path / "t")
    T.commit_overwrite_partition(
        _rows(spark, [(i, float(i)) for i in range(10)]), root, D)
    T.cluster_zorder(spark, root, D, cols=("risk_score",), target_files=2)
    v = T.merge_scores(_rows(spark, [(3, 99.0)]), root, D)
    box = {"risk_score": (0.0, 5.0)}
    want = [0, 1, 2, 4, 5]
    got = lambda: sorted(r.route_id for r in
                         T.read_snapshot(spark, root, cols_between=box)
                         .collect())
    assert got() == want
    m = T.read_manifest(root, v)
    for e in m["partitions"][D]:
        if "seq" in e:
            e["cols"] = {"risk_score": [99.0, 99.0]}
    T._manifest_path(root, v).write_text(json.dumps(m))
    assert got() == want


def test_string_keyed_layers(spark, tmp_path):
    """Layers shadow by any key type: a string key takes the literal
    ``isin`` filter instead of the bigint SQL list."""
    root = str(tmp_path / "t")
    rows = lambda p: spark.createDataFrame(p, "sku string, qty int")
    T.commit_overwrite_partition(rows([("a", 1), ("b", 2), ("c'd", 3)]),
                                 root, D)
    T.merge_scores(rows([("b", 20), ("e", 5)]), root, D, key="sku")
    T.delete_where(spark, root, D, "sku = 'c''d'", key="sku")
    got = {r.sku: r.qty for r in
           T.read_snapshot(spark, root, key="sku").collect()}
    assert got == {"a": 1, "b": 20, "e": 5}
    assert [r.qty for r in
            T.read_snapshot(spark, root, key="sku", key_eq="b").collect()] \
        == [20]
