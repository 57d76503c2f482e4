"""Regression pins for the ADVICE r10 fixes (consumed in round 11).

1. ml training frame: session-memoized single cache pin (not one per
   invocation) registered for unpersist-on-session-GC.
2. graph_degree_histogram oracle: the bit-shift rides a BIGINT one so
   DuckDB cannot Out-of-Range once max degree reaches ~2^30 (the Spark
   side already casts before shifting).

The other two ADVICE items were test-side fixes and live in place:
tests/test_advice_r10.py sweeps l_quantity integrality over every
fixture SF, and tests/test_wave33.py's Brier brute force uses half-up
rounding to match the engines.
"""

from __future__ import annotations

import duckdb
import pytest

from safeascent_spark import domain, ml as ML
from safeascent_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-advice-r11")
    yield s


def test_ml_training_frame_is_memoized_and_registered(spark):
    """Repeated q_ml_risk_model-family invocations must reuse ONE cached
    training frame per (session, sf) — the ADVICE r10 leak was a new
    pinned copy per call relying on LRU eviction across a 297-query
    sweep — and that frame must sit in the session's release registry
    so session GC unpersists it."""
    a = ML._training_frame(spark, SF_SMOKE)
    n_after_first = len(domain.release_registry(spark))
    assert any(j is a._jdf for j in domain.release_registry(spark))
    b = ML._training_frame(spark, SF_SMOKE)
    assert a is b
    assert len(domain.release_registry(spark)) == n_after_first
    assert a.storageLevel.useMemory  # actually cached, not just memoized


def test_degree_histogram_oracle_shift_is_bigint():
    """The DuckDB oracle must shift CAST(1 AS BIGINT), and the widened
    expression must evaluate fine past bit 30 (where an INTEGER-literal
    shift raises Out of Range)."""
    from safeascent_spark.operators.graph import sql_graph_degree_histogram
    sql = sql_graph_degree_histogram()
    assert "CAST(1 AS BIGINT) <<" in sql
    assert "CAST(1 <<" not in sql
    # the exact widened expression the oracle now uses, at a degree bin
    # (33) that the INTEGER form cannot represent
    val = duckdb.sql("SELECT CAST(1 AS BIGINT) << 33").fetchone()[0]
    assert val == 2**33
