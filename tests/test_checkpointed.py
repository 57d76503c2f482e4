"""Soak test for ``domain.checkpointed``: repeated queries in one session.

A per-invocation checkpoint must not be registered for release at session
GC: the registry would then hold one more pinned copy per call for the
session's lifetime (ADVICE r13, the pagerank / bm25 leak).  Each query
below cuts lineage with per-invocation checkpoints, and some also read
session-scoped frames, so after the first call (which may build those
session frames) the release registry must stay flat.

The test checks the registry, not ``getPersistentRDDs``: frames nobody
registers are freed by the JVM's ContextCleaner, and only after the JVM
has garbage-collected them, so a persistent-RDD count would make the test
depend on GC timing.  On a 4-core VM, five extra ``dedup_semantic`` calls
at sf0.01 left all five checkpoints pinned after 64 s of forced GC
(``System.gc()`` every 5 s).
"""

from __future__ import annotations

import pytest

from safeascent_spark import domain
from tests.conftest import SF_SMOKE

CALLS = 5


@pytest.mark.parametrize("qname", [
    "dedup_semantic", "graph_pagerank", "search_mmr", "text_bm25_topk",
])
def test_repeated_calls_keep_the_release_registry_flat(spark, qname):
    import __spark_entry__ as E
    q = E.queries()[qname]
    first = q(spark, SF_SMOKE).collect()
    n = len(domain.release_registry(spark))
    for _ in range(CALLS - 1):
        assert q(spark, SF_SMOKE).collect() == first
    assert len(domain.release_registry(spark)) == n
