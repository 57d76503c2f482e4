"""Round-13 optimization pins: the significance-reach guard, the F.expr
fast-path shape guards, and the search_mmr session memoization (VERDICT
r12 item 3, ADVICE r12)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from safeascent_spark import config as C
from safeascent_spark import domain
from safeascent_spark import kernels as K
from safeascent_spark.operators import scoring
from tests.conftest import SF_ORACLE


def test_significance_reach_zero_when_fmax_below_threshold(spark, monkeypatch):
    """ADVICE r12: a config where no pair can clear the significance
    threshold must yield reach 0.0, not a sqrt-of-negative ValueError."""
    monkeypatch.setattr(C, "SEASONAL_MULTIPLIER", 1e-12)
    cache = domain.session_cache(spark, "sig_reach_km")
    saved = dict(cache)
    cache.clear()
    try:
        assert scoring.significance_reach_km(spark, SF_ORACLE) == 0.0
    finally:
        cache.clear()
        cache.update(saved)


def test_expr_fast_path_guards_fall_back_identically(spark, monkeypatch):
    """ADVICE r12: qualified/exotic column names and non-float or
    non-finite values must take the expression-builder path and still
    compute the same result."""
    df = spark.createDataFrame(
        [("Trad",), ("sport",), (None,), ("??",)], "route_type string")
    fast = df.select(K.spatial_bandwidth("route_type").alias("v")).collect()
    slow = df.select(
        K.spatial_bandwidth(F.col("route_type")).alias("v")).collect()
    assert [r.v for r in fast] == [r.v for r in slow]
    # a non-identifier name must not reach F.expr (it would raise a parse
    # error); the guard routes it to the Column path, which fails cleanly
    # in ANALYSIS (unresolvable column) rather than at SQL-parse time
    assert not K._expr_fast_ok("a.route_type", C.SPATIAL_BANDWIDTH_KM.items())
    assert not K._expr_fast_ok("route type", C.SPATIAL_BANDWIDTH_KM.items())
    assert not K._expr_fast_ok("route_type", [("k'ey", 1.0)])
    assert not K._expr_fast_ok("route_type", [("key", 1)])
    assert not K._expr_fast_ok("route_type", [("key", float("inf"))])
    assert not K._expr_fast_ok("route_type", [("key", float("nan"))])
    # inf/nan arms and defaults would render as `infD`/`nanD` in F.expr
    # text, which Spark parses as column names
    odd = {"trad": float("inf"), "sport": 1.0, "default": float("nan")}
    fast = df.select(K.map_literal(odd, "route_type", 0.0).alias("v"))
    slow = df.select(K.map_literal(odd, F.col("route_type"), 0.0).alias("v"))
    assert [repr(r.v) for r in fast.collect()] \
        == [repr(r.v) for r in slow.collect()] \
        == ["inf", "1.0", "nan", "nan"]
    monkeypatch.setattr(C, "DEFAULT_ROUTE_TYPE_WEIGHT", float("-inf"))
    pair = spark.createDataFrame(
        [("trad", "sport"), ("trad", "??")], "p string, a string")
    fast = pair.select(K.route_type_weight("p", "a").alias("v")).collect()
    slow = pair.select(
        K.route_type_weight(F.col("p"), F.col("a")).alias("v")).collect()
    assert [r.v for r in fast] == [r.v for r in slow]
    assert fast[1].v == float("-inf")


def test_search_mmr_base_memoized_per_session_sf(spark):
    """VERDICT r12 item 3: cand/pair_sim are session-memoized serving-index
    state; a second invocation must reuse the same cached frames (and the
    query result must be identical across invocations).  A fresh session
    starts with an empty release registry: the first call registers
    exactly the two cached frames, the second registers nothing."""
    from safeascent_spark.operators import forecast as FC
    s = spark.newSession()
    r1 = FC.q_search_mmr(s, SF_ORACLE).collect()
    registry = domain.release_registry(s)
    assert len(registry) == 2
    assert all(j.storageLevel().useMemory() for j in registry)
    frames = list(registry)
    r2 = FC.q_search_mmr(s, SF_ORACLE).collect()
    assert registry == frames
    assert r1 == r2


def test_reach_bound_dominates_every_observed_influence_factor(spark):
    """ADVICE r12: the reach derivation's losslessness depends on f_max
    bounding every non-spatial factor product.  Evaluate the actual factor
    columns over the real pair stage and assert none exceeds its config
    bound (so influence <= spatial * f_max holds on the data the filters
    see)."""
    wmax_row = (
        __import__("safeascent_spark.operators.weather",
                   fromlist=["weather_similarity_cached"])
        .weather_similarity_cached(spark, SF_ORACLE)
        .agg(F.max("weather_weight")).first())
    wmax = float(wmax_row[0]) if wmax_row[0] is not None else 1.0
    wfac_max = max(wmax ** C.WEATHER_POWER,
                   scoring.MISSING_WEATHER_FACTOR)
    f_max = (C.SEASONAL_MULTIPLIER
             * max(C.SEVERITY_BOOSTERS.values())
             * max(*C.ROUTE_TYPE_WEIGHTS.values(),
                   C.DEFAULT_ROUTE_TYPE_WEIGHT)
             * (1.0 + C.ELEVATION_BONUS_MAX)
             * wfac_max)
    pairs = scoring._candidate_pairs(
        spark, SF_ORACLE, domain.PRED_DATE, None, grid=False)
    # tfac carries temporal * rt_weight * severity; wfac the gated cube;
    # elevation/grade are bounded by construction (<= 1 + bonus, <= 1)
    row = pairs.agg(
        F.max("tfac").alias("tfac_max"),
        F.max(F.coalesce(F.col("wfac"),
                         F.lit(scoring.MISSING_WEATHER_FACTOR)))
         .alias("wfac_obs")).first()
    assert row.tfac_max <= (C.SEASONAL_MULTIPLIER
                            * max(C.SEVERITY_BOOSTERS.values())
                            * max(*C.ROUTE_TYPE_WEIGHTS.values(),
                                  C.DEFAULT_ROUTE_TYPE_WEIGHT))
    assert row.wfac_obs <= wfac_max
    assert row.tfac_max * (1.0 + C.ELEVATION_BONUS_MAX) * row.wfac_obs \
        <= f_max * (1.0 + 1e-12)


def test_grid_cells_cover_radius_per_axis():
    """Anisotropic grid: each axis' cell must cover MAX_SEARCH_RADIUS_KM so
    no within-radius pair can differ by more than one cell on that axis."""
    import math
    km_per_deg = math.pi / 180.0 * C.EARTH_RADIUS_KM
    assert scoring.GRID_CELL_LAT_DEG * km_per_deg >= C.MAX_SEARCH_RADIUS_KM
    # longitude at the domain's worst-case |lat|: unchanged 4.2-deg cell
    worst = km_per_deg * math.cos(math.radians(50.0))
    assert scoring.GRID_CELL_DEG * worst >= C.MAX_SEARCH_RADIUS_KM
    assert scoring.GRID_CELL_LAT_DEG <= scoring.GRID_CELL_DEG
