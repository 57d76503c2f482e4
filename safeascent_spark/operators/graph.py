"""Connected components via alternating large-star / small-star rounds.

``connected_components`` is the engine's one connected-components
operator, and ``clusters`` is the one duplicate-cluster block built on
it.  ``dedup_clusters``, ``dedup_clusters_largestar`` (the same query
under its historical name) and ``multimodal_phash_clusters`` all build
through ``clusters``; ``geo_hotspots`` labels cells with
``connected_components`` directly.

The algorithm is the two-phase star contraction of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC'14).  Each round
is one window pass over the current edge set, the edge set only shrinks
toward stars, and convergence takes O(log n) rounds whatever the
component diameter.  Min-label propagation, the textbook alternative,
needs O(diameter) rounds, each re-joining the full edge set, so one
long chain of near-duplicate crawl snapshots makes it unbounded.
``tests/test_graph_cc.py`` checks the clusters against a union-find over
the collected LSH pairs and the round count on a long chain.

Phases (all edges kept as (u, v) with u > v after round 0):

* large-star: for every node u, link every *larger* neighbor v > u to
  m = min(N(u) + [u]).
* small-star: for every node u over its *smaller* neighbors, link them
  (and u itself) to the minimum.

Reference parity: duplicate clustering mirrors the reference's
duplicate-report grouping (backend/app/services/analytics_service.py;
SURVEY §2 dedup family).  The oracles walk the same pair graph with
``WITH RECURSIVE`` min-label reachability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import domain

MAX_ROUNDS = 20

# At or below this many deduplicated edges the star loop is driver
# round-trip latency (each round is a full job over a small edge set),
# so the edge list is collected and solved with union-find instead.
# The union-find result returns as a ``domain.local_frame`` of one row
# per node, whose VALUES parse costs ~30 µs a row.  On random graphs the
# two paths tie near 10^5 edges and the star loop wins above; on a chain
# (the star loop's worst case) the tie moves to ~10^6 (CHANGES.md has
# the measurements).
CC_DRIVER_MAX_EDGES = 100_000


def _checksum(edges: DataFrame):
    """Cheap fixpoint probe: (count, sum(u), sum(v)) as exact decimals.
    One thin scalar aggregate per round instead of a set-difference walk."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
    ).collect()[0]
    return (row["n"], row["su"], row["sv"])


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star contraction round, as a single linear
    operator chain (r12 optimization round).

    The original form computed each phase's per-node minimum with a
    ``groupBy`` + self-equi-join (guide §2.4: two operations keyed the
    same way paying two shuffles each), plus an intermediate ``distinct``
    between the phases — 6 Exchanges per round.  Both minima are
    partition-local aggregates over the phase key, so a window
    ``min() OVER (PARTITION BY u)`` computes them in the SAME shuffle
    that the join would have needed, with no second side to build; the
    small-star relink/self-link arms are emitted from ONE window pass via
    a conditional array-explode instead of consuming the window twice;
    and the large-star ``distinct`` is deferred into the round-final
    ``distinct`` (duplicates do not change a min, and the terminal
    distinct collapses them — the per-round edge SET is bit-identical,
    so the fixpoint checksum and round count are unchanged).  Net: 3
    Exchanges per round, one linear chain.

    large-star: for every neighbor v > u, emit (v, m), m = min(N(u)+[u]).
    small-star over its output (rows satisfy u > v, so min(N-(u)) < u):
    link N-(u) + [u] to the minimum.
    """
    from pyspark.sql import Window
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    wu = Window.partitionBy("u")
    large = (und.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v")))
    withm = large.withColumn("m", F.min("v").over(wu))
    self_link = F.struct(F.col("u").alias("u"), F.col("m").alias("v"))
    relink = F.struct(F.col("v").alias("u"), F.col("m").alias("v"))
    arms = (F.when(F.col("v") != F.col("m"), F.array(relink, self_link))
             .otherwise(F.array(self_link)))
    return (withm.select(F.explode(arms).alias("e"))
                 .select("e.u", "e.v")
                 .distinct())


def _driver_cc(spark: SparkSession, cur: DataFrame) -> DataFrame:
    """Union-find over a driver-collected edge list; same output contract
    as the star loop ((node, component-min) for every edge endpoint).
    Only called for edge sets bounded by CC_DRIVER_MAX_EDGES.  Unions
    always hang the larger root under the smaller, so every tree root is
    its component's minimum id."""
    from pyspark.sql.types import StructField, StructType

    t = cur.schema["u"].dataType
    rows = cur.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for row in rows:
        u, v = row[0], row[1]
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    out = sorted((n, find(n)) for n in nodes)
    schema = StructType([StructField("node", t, False),
                         StructField("component", t, False)])
    return domain.local_frame(spark, out, schema)


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Edges (u, v) as distinct (greater, lesser) pairs without self-loops;
    lazily checkpointed, so the first checksum materializes it."""
    return (edges.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .distinct()
                 .localCheckpoint(eager=False))


def _star_loop(cur: DataFrame, checksum,
               max_rounds: int = MAX_ROUNDS) -> tuple[DataFrame, int]:
    """Star rounds over canonical edges until the fixpoint checksum
    repeats.  Returns the star edge set and the number of rounds run.

    Lineage is cut per round with a lazy checkpoint: the round's checksum
    is the action that materializes it, so each round is one job; without
    the cut the plan doubles every round."""
    for i in range(max_rounds):
        cur = _star_round(cur).localCheckpoint(eager=False)
        nxt = _checksum(cur)
        if nxt == checksum:
            return cur, i + 1
        checksum = nxt
    return cur, max_rounds


def connected_components(edges: DataFrame, max_rounds: int = MAX_ROUNDS) -> DataFrame:
    """Star-contraction CC over an undirected edge list (columns u, v).

    Returns (node, component) for every node appearing in an edge, where
    component is the minimum node id of its connected component.
    """
    cur = _canonical_edges(edges)
    checksum = _checksum(cur)
    # The first checksum already knows the deduplicated edge count, so the
    # small-graph cutover costs no extra job.
    if checksum[0] <= CC_DRIVER_MAX_EDGES:
        return _driver_cc(edges.sparkSession, cur)
    cur, _ = _star_loop(cur, checksum, max_rounds)
    # At the fixpoint the edge set is a union of stars: (node, root) for
    # every non-root node.  min() is a no-op safety net at the fixpoint.
    members = cur.groupBy("u").agg(F.min("v").alias("component")) \
                 .select(F.col("u").alias("node"), "component")
    roots = cur.select(F.col("v").alias("node")).distinct() \
               .join(members, "node", "left_anti") \
               .withColumn("component", F.col("node"))
    return members.unionAll(roots)


def clusters(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """Duplicate clusters over a candidate-pair graph.

    ``ids`` has one column, the item id; ``pairs`` has two, the ids of a
    candidate pair.  Returns (<id>, cluster_rep, cluster_size, is_kept)
    for every id: the representative is the minimum id of the item's
    connected component (an item in no pair is its own cluster), and
    the representative is the kept survivor."""
    key = ids.columns[0]
    a, b = pairs.columns[:2]
    comp = connected_components(pairs.select(F.col(a).alias("u"),
                                             F.col(b).alias("v")))
    labels = (ids.join(comp, ids[key] == comp["node"], "left")
                 .select(key, F.coalesce("component", key).alias("label")))
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "label")
                  .select(key,
                          F.col("label").alias("cluster_rep"),
                          "cluster_size",
                          (F.col(key) == F.col("label")).alias("is_kept"))
                  .orderBy(key))


# --- Integer fixed-point PageRank over the route/location hierarchy ----------
# Graph centrality as a curation signal (the web-graph quality feature of
# Page et al. 1999), here over the reference's route -> location ->
# parent-area hierarchy plus per-route-type hubs — "which crag areas and
# route types accumulate the most popularity mass" (the rollup the
# reference serves from breadcrumbs + per-type counts,
# mp_routes.py:1196-1230 / analytics endpoints).
#
# All arithmetic is int64 fixed-point (ppm): p0 = 10^6 per vertex,
# p_{k+1}(v) = floor(15*10^6/100) + floor(85 * sum_in / 100) where each
# src contributes floor(p_k(src) / outdeg(src)) per out-edge.  Dangling
# mass (the root area, the type hubs) is dropped — documented contract,
# identical on both engines, so results are bit-exact with no float
# anywhere.  The graph is a DAG of depth <= 4 (route -> location ->
# parent -> parent -> root), so NITER=5 IS the fixpoint (proven by the
# NITER=6 equivalence in tests/test_analytics_r5b.py).
#
# Scale shape: each iteration is one equi-join of the edge list against
# the current rank vector (both keyed on src — Catalyst reuses the
# exchange) plus one map-side-combined groupBy(dst).  NITER bounded
# shuffles total, never an all-pairs structure; the edge list is
# |routes| * 2 + |locations|, linear in the corpus.

PR_SCALE = 1_000_000
PR_NITER = 5
PR_BASE = 15 * PR_SCALE // 100          # (1 - d) * scale at d = 0.85
_ROUTE_V = 10_000_000                   # route vertex id offset
_HUB_V = 20_000_000                     # route-type hub vertex offset


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import domain
    r = domain.routes_df(spark, sf_dir).select("route_id", "location_id")
    e_loc = r.select((F.col("route_id") + _ROUTE_V).alias("src"),
                     F.col("location_id").cast("long").alias("dst"))
    e_hub = r.select((F.col("route_id") + _ROUTE_V).alias("src"),
                     (F.col("route_id") % 7 + _HUB_V).alias("dst"))
    locs = r.select(F.col("location_id").cast("long").alias("lid")).distinct()
    e_par = (locs.filter(F.col("lid") > 0)
                 .select(F.col("lid").alias("src"),
                         F.expr("lid div 10").alias("dst")))
    return e_loc.unionByName(e_hub).unionByName(e_par)


# r13 (guide §5, VERDICT r12 item 5 — the CC-loop treatment): `ed` and
# `vertices` appear in EVERY iteration's plan, so without a lineage cut
# the final plan re-derived the edge scan + distinct + outdegree join
# PR_NITER times over (106 Exchanges / 2141 plan lines at r12 close).
# One checkpoint each materializes them once per invocation; the
# per-round iterate is likewise checkpointed so round k's plan does not
# chain every earlier round's join tree.  Values are unchanged —
# checkpointing only cuts lineage.  Width from ckpt_parts (no hard-coded
# constants on corpus-derived frames, VERDICT r8).  Both read one
# session-memoized edge plan, so the edges are planned once per query.
_pagerank_graph = domain.memo_plan(_pagerank_edges)


@domain.checkpointed("pagerank_vertices", scope="invocation")
def _pagerank_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _pagerank_graph(spark, sf_dir)
    return (edges.select(F.col("src").alias("vid"))
                 .unionByName(edges.select(F.col("dst").alias("vid")))
                 .distinct().coalesce(domain.ckpt_parts(spark)))


@domain.checkpointed("pagerank_edge_deg", scope="invocation")
def _pagerank_ed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, deg): every edge with its source's out-degree."""
    edges = _pagerank_graph(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return edges.join(outdeg, "src").coalesce(domain.ckpt_parts(spark))


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 vertices by integer fixed-point PageRank (ppm), with a
    vertex-kind label; total order (rank desc, vid) so the cut is unique."""
    cp = domain.ckpt_parts(spark)
    vertices = _pagerank_vertices(spark, sf_dir)
    ed = _pagerank_ed(spark, sf_dir)
    p = vertices.select("vid", F.lit(PR_SCALE).cast("long").alias("p"))
    for it in range(PR_NITER):
        contrib = (ed.join(p, ed["src"] == p["vid"])
                     .select("dst", F.expr("p div deg").alias("c"))
                     .groupBy("dst").agg(F.sum("c").alias("s")))
        p = (vertices.join(contrib, vertices["vid"] == contrib["dst"], "left")
                     .select("vid",
                             (F.lit(PR_BASE)
                              + F.expr("coalesce((85 * s) div 100, 0)"))
                             .cast("long").alias("p")))
        if it < PR_NITER - 1:
            # the LAST round stays un-checkpointed so the declared plan
            # exposes one full iteration (equi-join + partial agg) to the
            # plan gate; every round has the identical structure.
            p = p.coalesce(cp).localCheckpoint(eager=False)
    kind = (F.when(F.col("vid") >= _HUB_V, F.lit("type_hub"))
             .when(F.col("vid") >= _ROUTE_V, F.lit("route"))
             .otherwise(F.lit("location")))
    return (p.select(kind.alias("kind"), "vid",
                     F.col("p").alias("rank_ppm"))
             .orderBy(F.desc("rank_ppm"), "vid")
             .limit(100))


def sql_graph_pagerank() -> str:
    from .. import domain
    iters = []
    prev = "p0"
    for k in range(1, PR_NITER + 1):
        iters.append(f"""
p{k} AS (
  SELECT v.vid,
         CAST({PR_BASE} + COALESCE((85 * c.s) // 100, 0) AS BIGINT) AS p
  FROM vertices v LEFT JOIN (
    SELECT e.dst AS vid, sum(p.p // e.deg) AS s
    FROM ed e JOIN {prev} p ON e.src = p.vid
    GROUP BY e.dst) c ON v.vid = c.vid
)""")
        prev = f"p{k}"
    return f"""
WITH {domain.ROUTES_CTE.strip()},
r AS (SELECT route_id, location_id FROM routes),
edges AS (
  SELECT route_id + {_ROUTE_V} AS src,
         CAST(location_id AS BIGINT) AS dst FROM r
  UNION ALL
  SELECT route_id + {_ROUTE_V} AS src,
         route_id % 7 + {_HUB_V} AS dst FROM r
  UNION ALL
  SELECT CAST(lid AS BIGINT) AS src, lid // 10 AS dst
  FROM (SELECT DISTINCT CAST(location_id AS BIGINT) AS lid FROM r)
  WHERE lid > 0
),
vertices AS (
  SELECT DISTINCT vid FROM
    (SELECT src AS vid FROM edges UNION ALL SELECT dst FROM edges)
),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, o.deg FROM edges e JOIN outdeg o USING (src)),
p0 AS (SELECT vid, CAST({PR_SCALE} AS BIGINT) AS p FROM vertices),
{",".join(x.strip() for x in iters)}
SELECT CASE WHEN vid >= {_HUB_V} THEN 'type_hub'
            WHEN vid >= {_ROUTE_V} THEN 'route'
            ELSE 'location' END AS kind,
       vid, p AS rank_ppm
FROM {prev}
ORDER BY rank_ppm DESC, vid
LIMIT 100"""


# --- Common-neighbor / Adamic-Adar link prediction (round 7) --------------------
# The classic missing-edge scorer over the same derived graph as
# q_graph_pagerank: for node pairs sharing wedge centers, count common
# neighbors and accumulate the Adamic-Adar-style weight sum
# 1e6 div deg(center) (integer ppm; the harmonic form keeps the exact
# integer convention — hubs contribute ~nothing, which is the point of
# Adamic-Adar).  Top-100 pairs by score with a total deterministic
# order.
#
# Scale shape: wedge pairs are generated ONLY through centers with
# deg <= CN_MAX_DEG (mirrored verbatim in the oracle) — the standard
# hot-node cap of the repo's dedup family: sum of deg^2 over capped
# centers <= CAP * 2|E|, linear in the edge list, never quadratic in a
# hub's neighborhood.  The type-hub vertices this cap excludes carry
# deg ~ |routes|/7 and an AA weight of ~7e6/|routes| ppm — negligible
# by construction, and the cap is part of the operator's contract.

CN_MAX_DEG = 64
CN_TOP_K = 100


def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _pagerank_edges(spark, sf_dir)
    und = (edges.select("src", "dst")
                .unionAll(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
                .filter(F.col("src") != F.col("dst"))
                .distinct())
    deg = und.groupBy("src").agg(F.count(F.lit(1)).cast("bigint")
                                  .alias("deg"))
    nb = (und.join(deg, "src")
             .filter(F.col("deg") <= CN_MAX_DEG)
             .select(F.col("src").alias("c"), F.col("dst").alias("n"),
                     "deg"))
    a = nb.select("c", F.col("n").alias("node_a"), "deg")
    b = nb.select("c", F.col("n").alias("node_b"))
    pairs = (a.join(b, "c")
              .filter(F.col("node_a") < F.col("node_b"))
              .select("node_a", "node_b",
                      F.expr("1000000 div deg").alias("w")))
    return (pairs.groupBy("node_a", "node_b")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("common_cnt"),
                      F.sum("w").cast("bigint").alias("aa_score_ppm"))
                 .orderBy(F.desc("aa_score_ppm"), "node_a", "node_b")
                 .limit(CN_TOP_K))


def sql_graph_common_neighbors() -> str:
    from .. import domain
    return f"""
WITH {domain.ROUTES_CTE.strip()},
r AS (SELECT route_id, location_id FROM routes),
edges AS (
  SELECT route_id + {_ROUTE_V} AS src,
         CAST(location_id AS BIGINT) AS dst FROM r
  UNION ALL
  SELECT route_id + {_ROUTE_V} AS src,
         route_id % 7 + {_HUB_V} AS dst FROM r
  UNION ALL
  SELECT CAST(lid AS BIGINT) AS src, lid // 10 AS dst
  FROM (SELECT DISTINCT CAST(location_id AS BIGINT) AS lid FROM r)
  WHERE lid > 0
),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges
    UNION ALL SELECT dst AS src, src AS dst FROM edges)
  WHERE src <> dst
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
nb AS (
  SELECT u.src AS c, u.dst AS n, d.deg
  FROM und u JOIN deg d USING (src)
  WHERE d.deg <= {CN_MAX_DEG}
),
pairs AS (
  SELECT a.n AS node_a, b.n AS node_b, 1000000 // a.deg AS w
  FROM nb a JOIN nb b ON a.c = b.c AND a.n < b.n
)
SELECT node_a, node_b,
       CAST(count(*) AS BIGINT) AS common_cnt,
       CAST(sum(w) AS BIGINT) AS aa_score_ppm
FROM pairs
GROUP BY 1, 2
ORDER BY aa_score_ppm DESC, node_a, node_b
LIMIT {CN_TOP_K}"""


# --- k-core decomposition by iterative peeling (round 8) -------------------------
# The density gate over the same route/location/hub graph: nodes that
# survive KC_ROUNDS rounds of "drop every node with degree < KC_K
# among survivors" (KC_K = 2: the 3-core is empty by construction —
# minus the route layer the graph is the location-parent FOREST, and
# forests have no 2+-core; the 2-core keeps every route cycle).  Peeling is the textbook k-core algorithm
# (Matula-Beck); KC_ROUNDS is FIXED and identical in both engines, so
# the outputs match even before convergence, and the semantic test
# asserts the fixpoint is reached within the budget on the test graphs
# (each peel round only removes nodes, so the round count needed is
# the peel depth, not the diameter).  Scale shape: every round is one
# degree aggregate over the surviving edge set + two semi-joins — the
# edge set only shrinks; the alive set is localCheckpointed per round
# so the plan stays linear in KC_ROUNDS (the 2^K-growth rule from
# embedding_pca_power applies: alive feeds both the edge restriction
# and the next degree count).
#
# Reference parity: beyond-reference (graph/eval family, BASELINE.json
# north star); the graph is _pagerank_edges' route->location,
# route->type-hub, location->parent derivation.

KC_K = 2
KC_ROUNDS = 8


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _pagerank_edges(spark, sf_dir)
    und = (edges.select("src", "dst")
                .unionAll(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
                .filter(F.col("src") != F.col("dst"))
                .distinct())
    # per-round checkpoint width rides defaultParallelism (VERDICT r8
    # item 3): the edge set is corpus-derived, so a constant here
    # becomes the per-round task ceiling at 100x routes
    p = domain.ckpt_parts(spark)
    # Lazy per-round checkpoints (r12): the early-exit count is the action
    # that materializes both the `alive` and restricted-edge checkpoints,
    # so each round is one count-terminated job chain instead of three
    # separate eager-checkpoint actions.  (A window-count restructure of
    # the peel body was A/B-measured at +26% here — the AQE-broadcast
    # semi-joins against the small `alive` set beat two sort-based window
    # passes over the full edge set — so the join form stays.)
    e = und.coalesce(p).localCheckpoint(eager=False)
    n_prev = e.count()
    for _ in range(KC_ROUNDS):
        alive = (e.groupBy("src")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
                  .filter(F.col("deg") >= KC_K)
                  .select("src")
                  .coalesce(p).localCheckpoint(eager=False))
        # checkpoint the restricted edge set too: without it each
        # round's degree aggregate re-executes the whole join CHAIN of
        # every prior round (O(R^2) joins) — the pca_power plan-growth
        # rule.  Early-exit on a stable edge count: peeling only
        # removes nodes, so count-stable == fixpoint, and the skipped
        # rounds are provable no-ops (output unchanged; the oracle
        # runs all KC_ROUNDS unrolled and agrees — see tests).
        e = (e.join(alive, "src")
              .join(alive.select(F.col("src").alias("dst")), "dst")
              .select("src", "dst")
              .coalesce(p).localCheckpoint(eager=False))
        n_cur = e.count()
        if n_cur == n_prev:
            break
        n_prev = n_cur
    core = e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint")
                                 .alias("core_deg"))
    kind = (F.when(F.col("src") >= _HUB_V, F.lit("type_hub"))
             .when(F.col("src") >= _ROUTE_V, F.lit("route"))
             .otherwise(F.lit("location")))
    return (core.filter(F.col("core_deg") >= KC_K)
                .select(kind.alias("kind"), F.col("src").alias("vid"),
                        "core_deg")
                .orderBy("vid"))


def sql_graph_kcore() -> str:
    from .. import domain
    iters = []
    prev = "e0"
    for k in range(1, KC_ROUNDS + 1):
        iters.append(f"""
a{k} AS MATERIALIZED (
  SELECT src FROM (SELECT src, count(*) AS deg FROM {prev} GROUP BY 1)
  WHERE deg >= {KC_K}
),
e{k} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  JOIN a{k} s ON e.src = s.src
  JOIN a{k} t ON e.dst = t.src
)""")
        prev = f"e{k}"
    return f"""
WITH {domain.ROUTES_CTE.strip()},
r AS (SELECT route_id, location_id FROM routes),
edges AS (
  SELECT route_id + {_ROUTE_V} AS src,
         CAST(location_id AS BIGINT) AS dst FROM r
  UNION ALL
  SELECT route_id + {_ROUTE_V} AS src,
         route_id % 7 + {_HUB_V} AS dst FROM r
  UNION ALL
  SELECT CAST(lid AS BIGINT) AS src, lid // 10 AS dst
  FROM (SELECT DISTINCT CAST(location_id AS BIGINT) AS lid FROM r)
  WHERE lid > 0
),
e0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges
    UNION ALL SELECT dst AS src, src AS dst FROM edges)
  WHERE src <> dst
),
{",".join(x.strip() for x in iters)}
SELECT CASE WHEN src >= {_HUB_V} THEN 'type_hub'
            WHEN src >= {_ROUTE_V} THEN 'route'
            ELSE 'location' END AS kind,
       src AS vid,
       CAST(count(*) AS BIGINT) AS core_deg
FROM {prev}
GROUP BY 2
HAVING count(*) >= {KC_K}
ORDER BY vid"""


# --- Degree assortativity (round 9) -------------------------------------------
# Newman's r: the Pearson correlation of endpoint degrees over the
# undirected edge list (each edge counted in both orientations, which
# makes the marginals symmetric).  Hub-to-hub wiring (r > 0) versus
# hub-to-leaf (r < 0) decides whether hot-vertex mitigations (hub caps,
# salting) pay off — the one-scalar summary of the skew profile the
# dedup/similarity blocking devices already assume.
#
# Exactness: all six sufficient statistics are exact integers on
# DECIMAL(38,0) (an edge count x deg^2 product overflows BIGINT at
# ~1e12 edges); the single float step is the round-once
# floor(num * 1e6 / (sqrt(dx) * sqrt(dy))) — the events_autocorr
# device (sqrt is IEEE-correctly-rounded in both engines).
#
# Scale shape: degree = one keyed aggregate over edges; endpoint
# degrees come back via two equi-joins on the (node)-keyed degree
# table; the rollup is a scalar aggregate with map-side partials.
# Nothing quadratic, no windows.

def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _pagerank_edges(spark, sf_dir)
    und = (edges.select("src", "dst")
                .unionAll(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
                .filter(F.col("src") != F.col("dst"))
                .distinct())
    deg = und.groupBy("src").agg(F.count(F.lit(1)).cast("bigint")
                                  .alias("deg"))
    j = (und.join(deg.select(F.col("src"), F.col("deg").alias("x")),
                  "src")
            .join(deg.select(F.col("src").alias("dst"),
                             F.col("deg").alias("y")), "dst"))
    dec = "DECIMAL(38,0)"
    s = j.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
              F.sum("x").cast("bigint").alias("sx"),
              F.sum("y").cast("bigint").alias("sy"),
              F.sum(F.expr(f"CAST(x AS {dec}) * y")).alias("sxy"),
              F.sum(F.expr(f"CAST(x AS {dec}) * x")).alias("sxx"),
              F.sum(F.expr(f"CAST(y AS {dec}) * y")).alias("syy"))
    num = f"(CAST(n_pairs AS {dec}) * sxy - CAST(sx AS {dec}) * sy)"
    dx = f"(CAST(n_pairs AS {dec}) * sxx - CAST(sx AS {dec}) * sx)"
    dy = f"(CAST(n_pairs AS {dec}) * syy - CAST(sy AS {dec}) * sy)"
    r = (f"CASE WHEN {dx} > 0 AND {dy} > 0 THEN "
         f"CAST(floor(CAST({num} AS DOUBLE) * 1000000 / "
         f"(sqrt(CAST({dx} AS DOUBLE)) * sqrt(CAST({dy} AS DOUBLE))))"
         f" AS BIGINT) ELSE NULL END")
    return s.select("n_pairs", F.expr(r).alias("assortativity_micro"))


def sql_graph_assortativity() -> str:
    from .. import domain
    num = "(CAST(n_pairs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)"
    dx = "(CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)"
    dy = "(CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)"
    return f"""
WITH {domain.ROUTES_CTE.strip()},
r AS (SELECT route_id, location_id FROM routes),
edges AS (
  SELECT route_id + {_ROUTE_V} AS src,
         CAST(location_id AS BIGINT) AS dst FROM r
  UNION ALL
  SELECT route_id + {_ROUTE_V} AS src,
         route_id % 7 + {_HUB_V} AS dst FROM r
  UNION ALL
  SELECT CAST(lid AS BIGINT) AS src, lid // 10 AS dst
  FROM (SELECT DISTINCT CAST(location_id AS BIGINT) AS lid FROM r)
  WHERE lid > 0
),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges)
  WHERE src <> dst
),
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1
),
j AS (
  SELECT a.deg AS x, b.deg AS y
  FROM und u
  JOIN deg a ON u.src = a.src
  JOIN deg b ON u.dst = b.src
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM j
)
SELECT n_pairs,
       CASE WHEN {dx} > 0 AND {dy} > 0 THEN
         CAST(floor(CAST({num} AS DOUBLE) * 1000000 /
              (sqrt(CAST({dx} AS DOUBLE)) * sqrt(CAST({dy} AS DOUBLE))))
           AS BIGINT) ELSE NULL END AS assortativity_micro
FROM s"""


# --- Degree distribution histogram (round 10) ----------------------------------
# The first readout any graph-health dashboard wants over the derived
# route/location/hub graph: the log2-binned degree distribution plus
# exact per-bin tail moments (sum deg, sum deg^2, max deg) — heavy-tail
# diagnosis for every hot-key decision this module makes (the
# CN_MAX_DEG wedge cap, the k-core peel width, the assortativity
# interpretation all key off where the degree mass sits).
#
# Exactness: the bin index is floor(log2(deg)) computed WITHOUT libm as
# length(bin(deg)) - 1 — the base-2 digit count of a positive BIGINT is
# exact in both engines (Spark `bin` and DuckDB `bin` both render
# without leading zeros), so no float ever enters the key.  Moments
# accumulate on DECIMAL(38,0)/HUGEINT and surface as BIGINT (bounded:
# sum(deg^2) <= max_deg * 2|E| — at 1e12 edges with 1e6-degree hubs
# that is 2e24, inside DECIMAL(38,0); the BIGINT surface holds to
# sum(deg^2) < 9.2e18, i.e. any graph this fixture's generator scales
# to — re-surface as DECIMAL if a real corpus crosses it).
#
# Scale shape: ONE shuffle builds the undirected-distinct edge set,
# one map-side-combined count produces |V| degree rows, and the
# histogram re-aggregates those to <= 64 bins.  Nothing is ever joined
# back to the corpus; the output is corpus-size-independent.
# Reference parity: the degree-profile role of the location hierarchy
# stats (backend/app/api/v1/mp_routes.py:49-106 breadcrumb fan-out).

def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _pagerank_edges(spark, sf_dir)
    und = (edges.select("src", "dst")
                .unionAll(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
                .filter(F.col("src") != F.col("dst"))
                .distinct())
    deg = und.groupBy("src").agg(F.count(F.lit(1)).cast("bigint")
                                  .alias("deg"))
    dec = "DECIMAL(38,0)"
    return (deg.withColumn("deg_bin",
                           (F.length(F.expr("bin(deg)")) - 1)
                           .cast("int"))
               .groupBy("deg_bin")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                    F.sum("deg").cast("bigint").alias("sum_deg"),
                    F.expr(f"CAST(sum(CAST(deg AS {dec}) * deg) AS BIGINT)")
                     .alias("sum_deg2"),
                    F.max("deg").cast("bigint").alias("max_deg"))
               .select("deg_bin",
                       F.expr("CAST(1 AS BIGINT) << deg_bin").alias("deg_lo"),
                       F.expr("(CAST(1 AS BIGINT) << (deg_bin + 1)) - 1")
                        .alias("deg_hi"),
                       "n_nodes", "sum_deg", "sum_deg2", "max_deg")
               .orderBy("deg_bin"))


def sql_graph_degree_histogram() -> str:
    from .. import domain
    return f"""
WITH {domain.ROUTES_CTE.strip()},
r AS (SELECT route_id, location_id FROM routes),
edges AS (
  SELECT route_id + {_ROUTE_V} AS src,
         CAST(location_id AS BIGINT) AS dst FROM r
  UNION ALL
  SELECT route_id + {_ROUTE_V} AS src,
         route_id % 7 + {_HUB_V} AS dst FROM r
  UNION ALL
  SELECT CAST(lid AS BIGINT) AS src, lid // 10 AS dst
  FROM (SELECT DISTINCT CAST(location_id AS BIGINT) AS lid FROM r)
  WHERE lid > 0
),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges)
  WHERE src <> dst
),
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1
)
SELECT CAST(length(bin(deg)) - 1 AS INT) AS deg_bin,
       -- shift a BIGINT one, not the INTEGER literal: DuckDB raises an
       -- Out of Range error once max degree reaches ~2^30, while the
       -- Spark side casts to BIGINT before shifting (ADVICE r10)
       CAST(CAST(1 AS BIGINT) << (length(bin(deg)) - 1) AS BIGINT) AS deg_lo,
       CAST((CAST(1 AS BIGINT) << length(bin(deg))) - 1 AS BIGINT) AS deg_hi,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(deg) AS BIGINT) AS sum_deg,
       CAST(sum(CAST(deg AS HUGEINT) * deg) AS BIGINT) AS sum_deg2,
       CAST(max(deg) AS BIGINT) AS max_deg
FROM deg
GROUP BY 1, 2, 3
ORDER BY deg_bin"""
