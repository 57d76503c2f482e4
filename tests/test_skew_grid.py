"""Hot-cell skew hardening for the grid-capped scoring join (VERDICT r3
item 6).

The capped pair stage equi-joins on (route_type, cell).  Accident hot-spots
cluster geographically (the reference's Rockies clusters,
data/DATABASE_STRUCTURE.md), so one cell can hold a large share of all
accidents.  While the accident dim broadcasts, a hot cell only affects
probe-side work distribution (no reducer hotspot); the dangerous regime is
the SHUFFLE form (``broadcast_dim=False``) at a scale where the dim no
longer broadcasts.  The dim replicates each accident to 7 route types x 9
neighbour cells, so a hot cell lands on 63 (route_type, cell) keys rather
than one: the dim-side reducer skew is mild (about 1.6x the median
partition at sf0.01), not one tower.  AQE splits a skewed partition only at
map-output boundaries, so the dim side must reach its exchange in more than
one map task.  These tests pin that:

* AQE's skew-join split ACTIVATES on a 30%-hot cell when the shuffle form
  runs with skew thresholds proportional to the data (what a cluster
  deployment must configure),
* the skewed shuffle plan still produces exactly the broadcast-form rows,
* the shuffle form's dim-side exchange has more than one mapper, and the
  broadcast form gains no exchange under the dim's broadcast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from safeascent_spark import domain
from safeascent_spark.operators import scoring
from tests.conftest import SF_ORACLE


def _hot_accidents(spark):
    """Accidents with ~30% relocated into ONE grid cell (a synthetic
    Rockies cluster): accident_id % 10 < 3 -> fixed hot coordinates."""
    a = domain.accidents_df(spark, SF_ORACLE)
    hot = F.col("accident_id") % 10 < 3
    return (a.withColumn("latitude",
                         F.when(hot, F.lit(39.6)).otherwise(F.col("latitude")))
             .withColumn("longitude",
                         F.when(hot, F.lit(-106.5)).otherwise(F.col("longitude"))))


@pytest.fixture()
def skew_session(spark):
    """Isolated session conf: force the shuffle join and scale the AQE skew
    thresholds to test-data partition sizes (the cluster analog scales them
    to real partition sizes — the RATIOS are what the test pins)."""
    s = spark.newSession()
    # enough shuffle partitions that the hot cell's partition towers over
    # the median (with very few partitions every partition carries a share
    # of the hot cell's 3x3 replicas and the skew ratio flattens)
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
               "8KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    # keep the skewed key's pairs from being pre-coalesced away
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    return s


def test_hot_cell_shuffle_join_gets_skew_split(skew_session):
    """The shuffle-form grid join over a 30%-hot cell must carry the AQE
    skew-split marker (skew=true) in its final adaptive plan."""
    s = skew_session
    pairs = scoring._pair_influence_select(scoring._candidate_pairs(
        s, SF_ORACLE, domain.PRED_DATE, None, grid=True,
        accidents=_hot_accidents(s), broadcast_dim=False))
    df = pairs.groupBy("route_id").agg(F.sum("influence").alias("x"))
    df.collect()  # AQE finalizes the plan during execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    assert "skew=true" in plan, (
        "AQE skew-join split did not activate on the hot cell:\n"
        + plan[:2000])


def test_hot_cell_shuffle_matches_broadcast_form(skew_session):
    """Skew-split or not, the shuffle form must compute exactly the
    broadcast form's capped scores (AQE splitting is result-transparent)."""
    s = skew_session
    hot = _hot_accidents(s)

    def capped(broadcast_dim):
        pairs = scoring._pair_influence_select(scoring._candidate_pairs(
            s, SF_ORACLE, domain.PRED_DATE, None, grid=True,
            accidents=hot, broadcast_dim=broadcast_dim))
        return scoring._risk_agg(
            pairs.filter(F.col("distance_km") <= F.lit(300.0)))

    shuffled = {r.route_id: r.risk_score for r in capped(False).collect()}
    broadcast = {r.route_id: r.risk_score for r in capped(True).collect()}
    assert shuffled == broadcast
    assert len(shuffled) > 0


def test_dim_broadcast_auto_chooser(spark):
    """broadcast_dim=None sizes the class dim (counted through the domain
    mapping) against the SESSION's broadcast threshold: the tiny test dim
    broadcasts under the default threshold, and the same call on a
    session with broadcasting disabled plans the shuffle form.  The
    threshold rides the memo key, so changing it MID-SESSION re-decides
    (ADVICE r4: a stale cached strategy must not survive a conf change)."""
    df = scoring.risk_scores_capped_df(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert scoring.dim_broadcasts(spark, SF_ORACLE) is True
    assert "BroadcastHashJoin" in plan

    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert scoring.dim_broadcasts(s2, SF_ORACLE) is False
    # mid-session conf change: the decision follows the new threshold
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    assert scoring.dim_broadcasts(s2, SF_ORACLE) is True
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert scoring.dim_broadcasts(s2, SF_ORACLE) is False
    pairs = scoring._pair_influence_select(scoring._candidate_pairs(
        s2, SF_ORACLE, domain.PRED_DATE, None, grid=True,
        broadcast_dim=None))
    got = scoring._risk_agg(
        pairs.filter(F.col("distance_km") <= 300.0)).collect()
    want = df.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def _plan_nodes(node):
    """Every node of a physical plan, descending through AQE wrappers
    (AdaptiveSparkPlan -> its current plan, a query stage -> its exchange)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStage"):
        kids = [node.plan()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    out = [node]
    for k in kids:
        out.extend(_plan_nodes(k))
    return out


def _carries_dim(node):
    """True when the node's output is the accident-class dim (its tfac)."""
    return "tfac#" in node.output().toString()


def test_shuffle_form_dim_side_has_many_map_tasks(skew_session):
    """AQE splits a skewed reducer partition only at map-output boundaries,
    so a dim side written by ONE map task can never be split however skewed
    it is.  The local supplier scan is a single partition; the shuffle form
    must fan the replicated dim out before the join's hash exchange (the
    fan-out's own round-robin exchange still reads the one scan task)."""
    s = skew_session
    pairs = scoring._pair_influence_select(scoring._candidate_pairs(
        s, SF_ORACLE, domain.PRED_DATE, None, grid=True,
        accidents=_hot_accidents(s), broadcast_dim=False))
    df = pairs.groupBy("route_id").agg(F.sum("influence").alias("x"))
    df.collect()
    stages = [n for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
              if n.nodeName() == "ShuffleQueryStage" and _carries_dim(n)
              and n.shuffle().outputPartitioning().toString()
                   .startswith("hashpartitioning")]
    assert stages, "no dim-side shuffle stage in the final plan"
    mappers = [n.shuffle().numMappers() for n in stages]
    assert all(m > 1 for m in mappers), mappers


def test_broadcast_form_dim_has_no_extra_exchange(skew_session):
    """The fan-out belongs to the shuffle form only: the broadcast form
    still plans a BroadcastHashJoin, and nothing under the dim's broadcast
    is a shuffle exchange."""
    s = skew_session
    pairs = scoring._pair_influence_select(scoring._candidate_pairs(
        s, SF_ORACLE, domain.PRED_DATE, None, grid=True,
        accidents=_hot_accidents(s), broadcast_dim=True))
    nodes = _plan_nodes(pairs._jdf.queryExecution().executedPlan())
    assert any(n.nodeName() == "BroadcastHashJoin" for n in nodes)
    dim_bcasts = [n for n in nodes
                  if n.nodeName() == "BroadcastExchange" and _carries_dim(n)]
    assert dim_bcasts, "the accident-class dim is not broadcast"
    for b in dim_bcasts:
        under = [n.nodeName() for n in _plan_nodes(b)[1:]]
        assert "Exchange" not in under, under
