"""The Python boundary: JVM-only query paths never start a Python worker.

* ``domain.local_frame`` builds the same frame as ``createDataFrame`` —
  values, types and nullability — as a JVM local relation;
* semantic dedup's band-0 cell, computed as one JVM expression, equals
  band 0 of the Arrow ``band_signatures_df`` pass;
* the serve queries and the refresh writer run with every Python-worker
  entry point patched to raise;
* ``session.get_spark`` sizes local parallelism from the machine.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from safeascent_spark import domain
from tests.conftest import SF_ORACLE, SF_SMOKE


def _same(a, b) -> bool:
    """Values equal, NaN equal to NaN, and -0.0 told apart from 0.0."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def _assert_like_create(spark, rows, schema):
    got = domain.local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema, (got.schema, want.schema)
    g, w = got.collect(), want.collect()
    assert len(g) == len(w)
    for gr, wr in zip(g, w):
        assert _same(tuple(gr), tuple(wr)), (gr, wr)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    return got


DOUBLES = [0.1, 1e-300, -0.0, float("nan"), float("inf"), float("-inf"),
           None, 1.7976931348623157e308, 5e-324]
STRINGS = ["it's", "back\\slash", "\\'", "naïve – 雪崩", "", None,
           "line\nbreak", "tab\tend"]


def test_local_frame_doubles_match_create_dataframe(spark):
    _assert_like_create(spark, [(i, v) for i, v in enumerate(DOUBLES)],
                        "i int, x double")


def test_local_frame_strings_match_create_dataframe(spark):
    _assert_like_create(spark, [(i, s) for i, s in enumerate(STRINGS)],
                        "i int, s string")


def test_local_frame_bigint_extremes_and_arrays(spark):
    rows = [(-(2 ** 63), [0.5, -0.0]), (2 ** 63 - 1, []), (0, None),
            (None, [None, float("nan")])]
    _assert_like_create(spark, rows, "k bigint, v array<double>")


def test_local_frame_empty_rows(spark):
    _assert_like_create(spark, [], "k bigint, s string, v array<double>")
    schema = StructType([StructField("k", LongType(), False),
                         StructField("s", StringType(), False)])
    assert domain.local_frame(spark, [], schema).schema == schema


def test_local_frame_non_nullable_struct_type(spark):
    schema = StructType([
        StructField("node", LongType(), False),
        StructField("x", DoubleType(), False),
        StructField("s", StringType(), True),
        StructField("v", ArrayType(DoubleType(), True), False)])
    rows = [(3, float("nan"), "a", [1.0]), (1, -0.0, None, [])]
    got = _assert_like_create(spark, rows, schema)
    assert got.schema == schema
    with pytest.raises(ValueError):
        domain.local_frame(spark, [(None, 1.0, "a", [])], schema)
    no_null_elems = StructType([
        StructField("v", ArrayType(DoubleType(), False), True)])
    with pytest.raises(TypeError):  # SQL cannot type a NOT NULL element
        domain.local_frame(spark, [([1.0],)], no_null_elems)


def test_band0_cell_is_band_signatures_band0(spark):
    """The JVM cell expression is bit-identical to the Arrow pass's band
    0, for every vector (twins included) at two scales."""
    from safeascent_spark.operators import similarity as SIM

    for sf in (SF_SMOKE, SF_ORACLE):
        corpus = SIM.corpus_with_twins_df(spark, sf)
        arrow = {r.vec_id: r.sig for r in
                 SIM.band_signatures_df(corpus).filter("band = 0").collect()}
        jvm = {r.vec_id: r.cell for r in
               SIM._semdedup_cells(spark, sf).select("vec_id", "cell")
                  .collect()}
        assert len(jvm) == corpus.count() and jvm == arrow, sf


SERVE = ["dedup_semantic", "events_rolling_distinct",
         "tpch_q21_lone_late_supplier", "text_vocab_novelty",
         "tpch_q2_mincost"]


@pytest.fixture
def no_python_worker(monkeypatch):
    """Every Python-worker entry point of a JVM-only path raises."""
    def refuse(self, *a, **k):
        raise AssertionError("Python worker on a JVM-only path")
    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(DataFrame, "mapInPandas", refuse)
    monkeypatch.setattr(DataFrame, "mapInArrow", refuse)


def test_serve_and_refresh_start_no_python_worker(spark, tmp_path,
                                                   no_python_worker):
    import __spark_entry__ as entry
    from safeascent_spark import txlog
    from safeascent_spark.operators import scoring
    from safeascent_spark.streaming import refresh

    queries = entry.queries()
    for name in SERVE:
        assert queries[name](spark, SF_SMOKE).collect(), name

    root = str(tmp_path / "scores")
    scores = scoring.risk_scores_df(spark, SF_SMOKE)
    txlog.commit_overwrite_partition(scores, root, domain.PRED_DATE)
    assert refresh.run_incremental_scores(spark, SF_SMOKE, root) >= 1
    assert txlog.read_snapshot(spark, root).count() == scores.count()


def test_default_cpus_follow_the_affinity_mask(monkeypatch):
    """Unset ``SPARK_GRAFT_CPUS``: the session is as wide as the CPUs this
    process may use, not a fixed 32.  Starts no session."""
    from safeascent_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._default_cpus() == len(os.sched_getaffinity(0))
    built = {}

    class Builder:
        def master(self, m):
            built["master"] = m
            return self

        def config(self, k, v):
            built[k] = v
            return self

        def appName(self, _):
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before starting a session")

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    with pytest.raises(RuntimeError):
        session.get_spark("t")
    n = len(os.sched_getaffinity(0))
    assert built["master"] == f"local[{n}]"
    assert built["spark.sql.shuffle.partitions"] == str(n)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with pytest.raises(RuntimeError):
        session.get_spark("t")
    assert built["master"] == "local[3]"
