"""Pins the driver order of ``queries()``.

The driver hash-checks exactly the first 50 registered queries, so
``list(queries())[:50]`` is the correctness window and the order itself
is part of the contract.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import __spark_entry__ as E

REPO = Path(__file__).resolve().parent.parent

ORDER_SHA256 = (
    "6f62858f89fb3ac0deec10e27f3624f1a53a3d6b5b87a250d115b8618266cbfe")


def _order():
    return list(E.queries())


def test_driver_order_is_pinned():
    """307 unique names in a fixed order; positions 50-56 hold the seven
    queries whose code changed outside the previous window, so the next
    window re-checks them first."""
    order = _order()
    assert len(order) == 307
    assert len(set(order)) == len(order)
    digest = hashlib.sha256("\n".join(order).encode()).hexdigest()
    assert digest == ORDER_SHA256
    assert order[50:57] == [
        "risk_scores_capped", "top_contributors_capped",
        "batch_scores_capped", "graph_pagerank", "search_mmr",
        "tpch_q21_lone_late_supplier", "text_bm25_topk",
    ]


def test_oracle_coverage_of_registered_queries():
    """Every registered query has an oracle row (or is an allowlisted
    rows-only query) — the driver compare depends on this pairing."""
    order = _order()
    oracles = E.oracle_sql()
    missing = [q for q in order if q not in oracles]
    assert missing == [], missing
    assert not set(oracles) - set(order)


def test_every_registered_query_has_a_plan_snapshot():
    """Round-9 invariant: 100% plan-snapshot coverage, and no snapshot
    contains a CartesianProduct (the one operator that is never the
    right answer at 100 TB — bounded cross joins plan as
    BroadcastNestedLoopJoin and are separately allowlisted by the
    plan-invariant suite)."""
    docs = REPO / "docs"
    missing = [n for n in _order()
               if not (docs / f"plan_{n}.txt").exists()]
    assert missing == [], missing
    offenders = [p.name for p in docs.glob("plan_*.txt")
                 if "CartesianProduct" in p.read_text()]
    assert offenders == [], offenders
