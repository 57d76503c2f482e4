"""RESTORE-to-version and additive schema evolution for the txlog format."""

from __future__ import annotations

from safeascent_spark import txlog


def _df(spark, rows, schema="route_id bigint, score double"):
    return spark.createDataFrame(rows, schema).coalesce(1).localCheckpoint()


def test_restore_reverts_and_is_itself_a_commit(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = txlog.commit_overwrite_partition(
        _df(spark, [(1, 1.0), (2, 2.0)]), root, "d")
    v2 = txlog.commit_overwrite_partition(
        _df(spark, [(1, 9.0)]), root, "d")
    txlog.commit_overwrite_partition(_df(spark, [(7, 7.0)]), root, "extra")
    v4 = txlog.restore_table(root, v1)
    assert v4 == txlog.current_version(root)

    def rows(version):
        return sorted(map(tuple,
            txlog.read_snapshot(spark, root, version=version)
                 .select("route_id", "score").collect()))
    # head == v1 exactly, including the post-v1 partition reverting away
    assert rows(v4) == rows(v1) == [(1, 1.0), (2, 2.0)]
    # the bad interval stays time-travelable until vacuum
    assert rows(v2) == [(1, 9.0)]
    # and the rollback is visible in the change feed as a normal diff
    ch = {(r["route_id"], r["_change_type"]) for r in
          txlog.table_changes(spark, root, v2, v4).collect()
          if r["_partition"] == "d"}
    assert ch == {(1, "update_postimage"), (2, "insert")}


def test_additive_schema_evolution_reads_null_for_old_partitions(
        spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(_df(spark, [(1, 1.0)]), root, "old")
    txlog.commit_overwrite_partition(
        _df(spark, [(2, 2.0, "b")],
            "route_id bigint, score double, grade string"), root, "new")
    # each partition's entries record the schema they were written with
    recorded = {p: {e["schema"] for e in es} for p, es in
                txlog.read_manifest(root)["partitions"].items()}
    assert len(recorded["old"]) == len(recorded["new"]) == 1
    assert "grade" not in recorded["old"].pop()
    assert "grade" in recorded["new"].pop()
    got = {r["route_id"]: r for r in
           txlog.read_snapshot(spark, root).collect()}
    assert got[2]["grade"] == "b"
    assert got[1]["grade"] is None  # pre-evolution partition reads as null
