"""Regression pins for the ADVICE r11 fixes (consumed in round 12).

1. Sink scratch root: the s8/s9 roundtrips derive their scratch
   directory from ``spark.safeascent.sink.scratchDir`` when set — on a
   multi-node cluster the executors' parquet partitions must land on a
   shared filesystem or the read-back silently drops rows — with the
   ``tempfile.mkdtemp`` fallback documented as a local-mode-only
   contract.
2. Corpus-proportional checkpoints (winnowing fingerprint frame, pHash
   hash frame, sink scores frame, isotonic bin frame, matryoshka
   ranked frame) are ``domain.checkpointed(..., scope="session")``
   builders, memoized per (session, sf_dir), so repeated invocations in
   one session reuse a single materialization instead of registering a
   fresh copy for release per call (the accumulate-per-call class
   ADVICE r10 first flagged for ``ml._training_frame``).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from safeascent_spark import domain, sinks
from safeascent_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-advice-r12")
    yield s


def _registry_len(spark) -> int:
    return len(domain.release_registry(spark))


def test_sink_scratch_dir_honors_shared_root_conf(spark, tmp_path):
    """With spark.safeascent.sink.scratchDir set, scratch dirs are
    created UNDER that root (the shared-filesystem deployment path);
    unset, the local-mode tempfile fallback applies."""
    root = tmp_path / "shared_scratch"
    spark.conf.set("spark.safeascent.sink.scratchDir", str(root))
    try:
        d = sinks._sink_scratch_dir(spark, "advice12_")
        assert Path(d).parent == root
        assert Path(d).name.startswith("advice12_")
        assert Path(d).is_dir()
    finally:
        spark.conf.unset("spark.safeascent.sink.scratchDir")
    d2 = sinks._sink_scratch_dir(spark, "advice12_")
    assert Path(d2).parent != root and Path(d2).is_dir()
    import shutil
    shutil.rmtree(d2, ignore_errors=True)


def test_sink_roundtrip_runs_under_shared_scratch_root(spark, tmp_path):
    """End-to-end: q_s8_score_roundtrip works with the conf pointed at
    a fresh root and leaves no scratch behind (the finally-rmtree)."""
    root = tmp_path / "s8_root"
    spark.conf.set("spark.safeascent.sink.scratchDir", str(root))
    try:
        out = sinks.q_s8_score_roundtrip(spark, SF_SMOKE)
        assert out.count() > 0
        leftovers = [p for p in root.iterdir()] if root.exists() else []
        assert leftovers == []
    finally:
        spark.conf.unset("spark.safeascent.sink.scratchDir")


@pytest.mark.parametrize("build", [
    pytest.param(
        lambda s: sinks._scores_ckpt(s, SF_SMOKE), id="sink_scores"),
    pytest.param(
        lambda s: __import__(
            "safeascent_spark.operators.multimodal",
            fromlist=["x"]).phash_hashes_ckpt(s, SF_SMOKE),
        id="phash_hashes"),
])
def test_corpus_checkpoints_are_session_memoized(spark, build):
    """Second invocation returns the SAME frame object and registers no
    additional release-registry entry."""
    a = build(spark)
    n = _registry_len(spark)
    b = build(spark)
    assert a is b
    assert _registry_len(spark) == n


@pytest.mark.parametrize("qname", [
    "winnowing_pairs", "ml_isotonic_calibration",
    "embedding_matryoshka_recall",
])
def test_query_level_checkpoints_do_not_accumulate(spark, qname):
    """Building a checkpoint-backed query twice must add release
    registry entries only once (the memoized upstream is shared; the
    second build pins nothing new)."""
    import __spark_entry__ as E
    q = E.queries()[qname]
    q(spark, SF_SMOKE).collect()
    n = _registry_len(spark)
    q(spark, SF_SMOKE).collect()
    assert _registry_len(spark) == n
