"""Named refs (branches/tags) for the txlog format: isolation, CAS
conflicts, vacuum pinning, fast-forward publish, and main-lineage
streaming."""

from __future__ import annotations

import pytest

from safeascent_spark import txlog
from safeascent_spark.streaming import txlog_source as TS


def _df(spark, ids, score):
    return spark.createDataFrame(
        [(i, float(score)) for i in ids], "route_id bigint, score double")


def test_branch_commits_are_invisible_to_main(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(_df(spark, [1, 2], 1.0), root, "p=a")
    txlog.create_branch(root, "exp")
    txlog.commit_overwrite_partition(_df(spark, [1, 2, 3], 2.0), root,
                                     "p=a", branch="exp")
    # default readers still see main's snapshot
    main_rows = txlog.read_snapshot(spark, root).collect()
    assert sorted(r.route_id for r in main_rows) == [1, 2]
    assert all(r.score == 1.0 for r in main_rows)
    # branch readers see the branch head
    exp_rows = txlog.read_snapshot(spark, root, ref="exp").collect()
    assert sorted(r.route_id for r in exp_rows) == [1, 2, 3]
    # main keeps moving independently
    txlog.commit_overwrite_partition(_df(spark, [9], 5.0), root, "p=b")
    assert sorted(r.route_id for r in
                  txlog.read_snapshot(spark, root).collect()) == [1, 2, 9]
    assert sorted(r.route_id for r in
                  txlog.read_snapshot(spark, root, ref="exp")
                       .collect()) == [1, 2, 3]


def test_tags_pin_and_are_immutable(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(_df(spark, [1], 1.0), root, "p=a")
    v1 = txlog.current_version(root)
    txlog.create_tag(root, "release-1")
    txlog.commit_overwrite_partition(_df(spark, [1, 2], 2.0), root, "p=a")
    assert txlog.resolve_ref(root, "release-1") == v1
    tagged = txlog.read_snapshot(spark, root, ref="release-1").collect()
    assert [r.route_id for r in tagged] == [1] and tagged[0].score == 1.0
    with pytest.raises(ValueError):
        txlog.create_tag(root, "release-1")
    with pytest.raises(ValueError):
        txlog.branch_commit(root, "release-1", lambda base: {})


def test_delete_on_tagged_table_advances_main(spark, tmp_path):
    """Once a ref exists, a delete is a main-branch commit: default readers
    see it and ``main`` points at it.  A delete that matches nothing
    publishes no version."""
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(_df(spark, [1, 2, 3], 1.0), root, "p=a")
    txlog.create_tag(root, "before")
    v = txlog.delete_where(spark, root, "p=a", "route_id = 2")
    assert txlog.resolve_ref(root, "main") == v == 2
    assert sorted(r.route_id for r in
                  txlog.read_snapshot(spark, root).collect()) == [1, 3]
    assert sorted(r.route_id for r in
                  txlog.read_snapshot(spark, root, ref="before")
                       .collect()) == [1, 2, 3]
    assert txlog.delete_where(spark, root, "p=a", "route_id = 99") == v
    assert txlog.current_version(root) == v
    assert txlog.resolve_ref(root, "main") == v


def test_vacuum_keeps_ref_pinned_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(_df(spark, [1], 1.0), root, "p=a")
    txlog.create_tag(root, "keepme")
    for s in (2.0, 3.0, 4.0):
        txlog.commit_overwrite_partition(_df(spark, [1], s), root, "p=a")
    txlog.vacuum(root, keep_versions=1, grace_seconds=0)
    # the tag's snapshot must still read, intact, after the vacuum
    rows = txlog.read_snapshot(spark, root, ref="keepme").collect()
    assert rows[0].score == 1.0
    assert txlog.read_snapshot(spark, root).collect()[0].score == 4.0


def test_same_branch_writers_both_land_via_cas(spark, tmp_path):
    """Two sequential commits racing the same branch-head entry: the CAS
    retry must rebase rather than drop either (partition-disjoint case)."""
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(_df(spark, [1], 1.0), root, "p=a")
    txlog.create_branch(root, "exp")
    txlog.commit_overwrite_partition(_df(spark, [2], 2.0), root, "p=b",
                                     branch="exp")
    txlog.commit_overwrite_partition(_df(spark, [3], 3.0), root, "p=c",
                                     branch="exp")
    got = sorted(r.route_id for r in
                 txlog.read_snapshot(spark, root, ref="exp").collect())
    assert got == [1, 2, 3]


def test_fast_forward_publishes_branch_to_main(spark, tmp_path):
    root = str(tmp_path / "t")
    txlog.commit_overwrite_partition(_df(spark, [1], 1.0), root, "p=a")
    txlog.create_branch(root, "stage")
    txlog.commit_overwrite_partition(_df(spark, [1, 2], 2.0), root,
                                     "p=a", branch="stage")
    txlog.fast_forward(root, to_ref="stage")
    rows = txlog.read_snapshot(spark, root).collect()
    assert sorted(r.route_id for r in rows) == [1, 2]
    assert all(r.score == 2.0 for r in rows)


def test_stream_skips_branch_commits(spark, tmp_path):
    """The commit-grain stream must emit main commits only — a branch
    commit interleaved in the version sequence neither appears nor
    corrupts the consecutive-version delta."""
    root = str(tmp_path / "t")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    txlog.commit_overwrite_partition(_df(spark, [1], 1.0), root, "p=a")
    txlog.create_branch(root, "exp")
    txlog.commit_overwrite_partition(_df(spark, [77], 9.0), root, "p=a",
                                     branch="exp")
    txlog.commit_overwrite_partition(_df(spark, [1, 2], 2.0), root, "p=a")
    versions = TS.run_table_stream_to_parquet(spark, root, chk, out)
    log = TS.read_change_log(spark, out).collect()
    assert 77 not in {r.route_id for r in log}, \
        "branch rows leaked into the main change stream"
    # main's two commits processed; the branch version number skipped
    main_versions = set(versions)
    branch_v = [v for v in range(1, txlog.current_version(root) + 1)
                if txlog.read_manifest(root, v).get("branch") == "exp"]
    assert set(branch_v).isdisjoint(main_versions)
    # after a fast-forward the merged state flows through the stream
    txlog.fast_forward(root, to_ref="exp")
    more = TS.run_table_stream_to_parquet(spark, root, chk, out)
    assert more, "fast-forward must surface as a main commit"
    log2 = TS.read_change_log(spark, out).collect()
    assert 77 in {r.route_id for r in log2}
