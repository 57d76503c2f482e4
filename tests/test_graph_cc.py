"""The engine's two graph fixpoints.

Connected components (operators/graph.py):
1. ``dedup_clusters`` equals a union-find over the collected LSH pairs;
2. ``connected_components`` equals a union-find on a random graph, on
   both the driver and the star-loop path;
3. the star loop takes O(log n) rounds on a diameter-n chain, where
   min-label propagation would need O(n).

Location hierarchy (operators/relational.py): the breadcrumb and the
ancestor closure, both read from one recursive walk, on a chain deeper
than the breadcrumb's hop bound.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from safeascent_spark.operators import dedup as D
from safeascent_spark.operators import graph as G
from safeascent_spark.operators import relational as R
from safeascent_spark.operators import text as T

from conftest import SF_ORACLE, SF_SMOKE


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _union_find(n_nodes, pairs):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = component minimum
    comp = {}
    for x in range(n_nodes):
        r = find(x)
        comp.setdefault(r, x)  # first visit in increasing order = min
    return {x: comp[find(x)] for x in range(n_nodes)}


def test_dedup_clusters_match_union_find_on_lsh_graph(spark):
    for sf in (SF_SMOKE, SF_ORACLE):
        docs = [r.doc_id for r in T.docs_df(spark, sf).select("doc_id")
                .collect()]
        pairs = [(r.doc_a, r.doc_b)
                 for r in D.q_dedup_minhash_lsh(spark, sf).collect()]
        rep = _union_find(max(docs) + 1, pairs)
        size: dict = {}
        for d in docs:
            size[rep[d]] = size.get(rep[d], 0) + 1
        expect = {(d, rep[d], size[rep[d]], d == rep[d]) for d in docs}
        got = {(r.doc_id, r.cluster_rep, r.cluster_size, r.is_kept)
               for r in D.q_dedup_clusters(spark, sf).collect()}
        assert pairs and got == expect


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(42)
    n = 300
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    pairs = [(a, b) for a, b in pairs if a != b]
    expect = _union_find(n, pairs)
    got = {r.node: r.component
           for r in G.connected_components(_edges_df(spark, pairs)).collect()}
    # connected_components only reports nodes that appear in an edge
    touched = {x for p in pairs for x in p}
    assert got == {x: expect[x] for x in touched}


def test_chain_converges_logarithmically(spark):
    # a path graph 0-1-2-...-128: diameter 128; label propagation moves the
    # min one hop per round (O(n)); star contraction must finish in
    # O(log n) rounds.
    n = 129
    chain = [(i, i + 1) for i in range(n - 1)]
    cur = G._canonical_edges(_edges_df(spark, chain))
    stars, rounds = G._star_loop(cur, G._checksum(cur))
    assert rounds <= 10, rounds
    assert stars.where(F.col("v") != 0).count() == 0
    got = G.connected_components(_edges_df(spark, chain))
    assert got.where(F.col("component") != 0).count() == 0
    assert got.count() == n


def test_driver_cutover_matches_star_loop(spark, monkeypatch):
    # small edge sets are solved with a bounded driver union-find
    # instead of paying per-round job latency.  Both paths must agree
    # exactly on the same graph (twin-heavy + a chain + singleton pairs).
    rng = random.Random(7)
    n = 400
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    pairs += [(i, i + 1) for i in range(350, 380)]
    pairs = [(a, b) for a, b in pairs if a != b]
    fast = {(r.node, r.component)
            for r in G.connected_components(_edges_df(spark, pairs)).collect()}
    monkeypatch.setattr(G, "CC_DRIVER_MAX_EDGES", -1)  # force the star loop
    slow = {(r.node, r.component)
            for r in G.connected_components(_edges_df(spark, pairs)).collect()}
    assert fast == slow and len(fast) > 0


def test_hierarchy_walk_on_deep_chain(spark, monkeypatch):
    """A 20-deep chain (root 100), a short chain (root 0) and a location
    whose parent is missing from the table.  The breadcrumb follows the
    oracle: a location whose chain does not reach the root within 15
    hops (its ``depth <= 15`` recursion bound) has no row.  The closure
    is unbounded."""
    parent = {100: None}
    parent.update({100 + i: 99 + i for i in range(1, 21)})
    parent.update({0: None, 1: 0, 2: 1, 50: 49})
    hier = spark.createDataFrame(sorted(parent.items()),
                                 "location_id long, parent_id long")
    monkeypatch.setattr(R, "breadcrumb_base_df", lambda spark, sf: hier)

    crumbs, closure = set(), set()
    for x in parent:
        cur, path, depth = parent[x], str(x), 1
        while cur is not None and depth <= 15 and cur in parent:
            cur, path, depth = parent[cur], f"{cur} > {path}", depth + 1
        if cur is None:
            crumbs.add((x, path, depth))
        closure.add((x, x))
        a = parent[x]
        while a is not None:
            closure.add((x, a))
            a = parent.get(a)

    got = {(r.location_id, r.path, r.depth)
           for r in R.q_location_breadcrumb(spark, "unused").collect()}
    assert got == crumbs
    assert (115, " > ".join(str(100 + i) for i in range(16)), 16) in got
    assert not {x for x, _, _ in got} & {116, 120, 50}
    got_closure = {(r.location_id, r.ancestor_id)
                   for r in R._location_closure(spark, "unused").collect()}
    assert got_closure == closure
