"""The flagship scoring operator: route x accident influence aggregation.

Re-expresses the reference's core dataflow (SURVEY.md §2.8):

    influence(route, accident) = spatial * temporal * elevation
                               * route_type * severity * grade
                               * gate(weather_similarity)^3
    risk(route) = min(100, sum(influence) * 7)

Physical shape (the plan we want at 100 TB):
  routes (huge probe side, scanned)
    -> broadcast hash join with locations (coordinate inheritance, J1)
    -> broadcast nested-loop cross join with accidents (small build side, J3)
    -> broadcast hash join with the bucket-pair weather similarity dim
    -> one wide codegen'd select computing all kernels as Column exprs
    -> partial-aggregated groupBy(route_id)  (map-side combine: the shuffle
       carries ~|routes| rows, not |routes x accidents|)

Reference: scalar loop safety_algorithm.py:151-168, vectorized
safety_algorithm_vectorized.py:314-376, batch form
location_safety_computation.py:300-422.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as C
from .. import domain
from .. import grades as G
from .. import kernels as K
from .. import sqlgen as S
from . import weather as W


def _grid_cell_deg(radius_km: float, max_abs_lat_deg: float = 50.0) -> float:
    """Smallest grid cell (degrees) such that every point pair within
    ``radius_km`` lands in the same or an adjacent cell (+-1 in each axis).

    Latitude: radius / (km per degree).  Longitude: invert the haversine at
    the worst-case |latitude| of the domain (derived coords span 25..45 deg;
    50 leaves margin).  This is what makes the grid equi-join EXACT: no
    within-radius pair can be missed, and the post-join haversine filter
    trims the corner surplus.
    """
    import math
    km_per_deg = math.pi / 180.0 * C.EARTH_RADIUS_KM
    lat_deg = radius_km / km_per_deg
    s = math.sin(radius_km / (2.0 * C.EARTH_RADIUS_KM))
    lon_rad = 2.0 * math.asin(min(1.0, s / math.cos(math.radians(max_abs_lat_deg))))
    return max(lat_deg, math.degrees(lon_rad))


# One fixed cell size sized for the reference's production search cap
# (MAX_SEARCH_RADIUS_KM = 300, algorithm_config.py:30): 4.2 deg.
GRID_CELL_DEG = round(_grid_cell_deg(C.MAX_SEARCH_RADIUS_KM) + 0.005, 2)


def _grid_cell_lat_deg(radius_km: float) -> float:
    """Latitude-axis cell size: d >= R * |dlat| exactly (see
    _lat_gap_prefilter), so a lat cell of radius/(km per degree) already
    guarantees any within-radius pair differs by at most one lat cell."""
    import math
    return radius_km / (math.pi / 180.0 * C.EARTH_RADIUS_KM)


# r13 (guide §2.3, VERDICT r12): the grid was square at the LONGITUDE
# worst case (4.2 deg covers 300 km along a parallel at |lat| 50), but the
# latitude axis only needs 300 km of arc = 2.70 deg.  Splitting the axes
# keeps the coverage guarantee per axis (any within-radius pair is within
# +-1 cell on each axis) while the 3x3 neighborhood generates ~35% fewer
# candidate pairs: |dlat| of a generated pair drops from <= 2x4.2 deg to
# <= 2x2.7 deg.  Results are cell-size independent — the post-join exact
# haversine <= radius filter defines the semantics.
GRID_CELL_LAT_DEG = round(_grid_cell_lat_deg(C.MAX_SEARCH_RADIUS_KM) + 0.005, 2)


def accident_class_dim(spark: SparkSession, sf_dir: str,
                       pred_date: str = domain.PRED_DATE,
                       accidents: DataFrame | None = None) -> DataFrame:
    """Pre-multiplied (route_type x accident) factor dimension.

    temporal, route-type-matrix and severity weights depend on the route
    only through its TYPE (7 canonical values — domain.ROUTE_TYPE_BY_MOD
    guarantees membership, so the pair equi-join on route_type is lossless).
    Folding their product ``tfac`` — plus the per-type spatial bandwidth /
    elevation decay constants and the accident's pair-stage fields — into
    one 7x|accidents| broadcast dim removes two pow() calls, the 49-entry
    matrix lookup and several CASE branches from the pair-grain expression,
    and turns the scoring cross join into a BroadcastHashJoin keyed on
    route_type (same |routes| x |accidents| pair count, cheaper per pair).

    Mirrors the reference's own factor-out of per-accident loop invariants
    (safety_algorithm_vectorized.py:314-376); the DuckDB oracle builds the
    identical dim in its ``tdim`` CTE so float association matches bit-wise.
    """
    if accidents is None:
        accidents = domain.accidents_df(spark, sf_dir)
    gdim = G.domain_grade_dim(spark, sf_dir)
    cell_lat = F.lit(GRID_CELL_LAT_DEG)
    cell_lon = F.lit(GRID_CELL_DEG)
    a = G.grade_difficulty_join(accidents, "grade", "a_gdiff", dim=gdim).select(
        "accident_id", "accident_date", "a_gdiff",
        F.col("route_type").alias("a_type"),
        K.severity_weight("severity").alias("a_sevw"),
        F.col("elevation_m").alias("a_elev"),
        F.radians("latitude").alias("a_rlat"),
        F.radians("longitude").alias("a_rlon"),
        F.cos(F.radians("latitude")).alias("a_coslat"),
        F.floor(F.col("latitude") / cell_lat).cast("int").alias("a_cx"),
        F.floor(F.col("longitude") / cell_lon).cast("int").alias("a_cy"),
        F.col("wbucket").alias("acc_bucket"),
    )
    rt = domain.local_frame(spark, [(t,) for t in domain.ROUTE_TYPE_BY_MOD],
                            "route_type string")
    ax = F.broadcast(rt).crossJoin(a)
    tfac = (K.temporal_weight(F.to_date(F.lit(pred_date)), "accident_date",
                              "route_type")
            * K.route_type_weight("route_type", "a_type")
            * F.col("a_sevw"))
    return ax.select(
        "route_type", "accident_id",
        tfac.alias("tfac"),
        K.spatial_bandwidth("route_type").alias("bw"),
        K.map_literal(C.ELEVATION_DECAY_CONSTANT, "route_type",
                      C.ELEVATION_DECAY_CONSTANT["default"]).alias("edecay"),
        "a_gdiff", "a_elev", "a_rlat", "a_rlon", "a_coslat",
        "a_cx", "a_cy", "acc_bucket",
    )


# weather factor for pairs whose bucket pair is absent from the wsim dim:
# the reference's missing-pattern neutral 0.5, gated+cubed (0.5^3 = 0.125,
# exact in binary); the oracle uses the same config-derived literal.
MISSING_WEATHER_FACTOR = C.MISSING_WEATHER_NEUTRAL ** C.WEATHER_POWER


def significance_reach_km(spark: SparkSession, sf_dir: str) -> float:
    """Largest great-circle distance at which ANY pair can still clear
    SIGNIFICANCE_THRESHOLD — the radius that makes a cheap latitude-gap
    prefilter provably lossless for significance-filtered consumers
    (guide §2.3: decide with cheap bytes before paying the expensive
    expression).

    influence = spatial * temporal * rt_w * sev_w * elevation * grade * wfac
    with every non-spatial factor bounded above by config maxima (temporal
    base <= 1, seasonal <= SEASONAL_MULTIPLIER; rt_w <= max matrix entry;
    sev_w <= max booster; elevation <= 1 + ELEVATION_BONUS_MAX; grade <= 1)
    and wfac <= max(gate(max session weather_weight)^3, the missing-pair
    0.125).  The weather max is an aggregate over the bounded (<= buckets^2
    row) session-cached wsim dim — one tiny job per session, memoized.
    spatial = exp(-d^2 / (2 bw^2)) <= exp(-d^2 / (2 max_bw^2)), so influence
    can only exceed the threshold when

        d < max_bw * sqrt(2 * ln(f_max / SIGNIFICANCE_THRESHOLD))

    The returned cutoff carries a 1.001 multiplicative margin so IEEE
    rounding of the engine's haversine can never mis-prune a borderline
    pair; droppable pairs therefore satisfy influence < threshold strictly
    and are exactly the rows the significance filter already discards.
    """
    import math
    from . import weather as _W
    cache = domain.session_cache(spark, "sig_reach_km")
    if sf_dir not in cache:
        wmax = _W.weather_similarity_cached(spark, sf_dir) \
            .agg(F.max("weather_weight")).first()[0]
        wmax = float(wmax) if wmax is not None else 1.0
        wfac_max = max(wmax ** C.WEATHER_POWER, MISSING_WEATHER_FACTOR)
        f_max = (C.SEASONAL_MULTIPLIER
                 * max(C.SEVERITY_BOOSTERS.values())
                 * max(*C.ROUTE_TYPE_WEIGHTS.values(),
                       C.DEFAULT_ROUTE_TYPE_WEIGHT)
                 * (1.0 + C.ELEVATION_BONUS_MAX)
                 * wfac_max)
        max_bw = max(C.SPATIAL_BANDWIDTH_KM.values())
        # r13 (ADVICE r12): if a future config made f_max <= threshold no
        # pair could ever be significant (influence <= spatial_max * f_max
        # <= f_max); reach 0 then prunes every positive-gap pair, which is
        # exactly what the query's own filter would do — and the sqrt of a
        # negative log must never raise at build time.
        if f_max <= C.SIGNIFICANCE_THRESHOLD:
            cache[sf_dir] = 0.0
        else:
            cache[sf_dir] = max_bw * math.sqrt(
                2.0 * math.log(f_max / C.SIGNIFICANCE_THRESHOLD)) * 1.001
    return cache[sf_dir]


def _lat_gap_prefilter(pairs: DataFrame, cutoff_km: float,
                       rlat_a: str = "a_rlat",
                       rlat_b: str = "r_rlat") -> DataFrame:
    """Keep only pairs whose latitude gap alone leaves d <= cutoff possible.

    The haversine satisfies d >= R * |dlat| exactly (a >= sin^2(dlat/2) and
    asin(sin x) = x on this domain), so |rlat_a - rlat_b| * R > cutoff
    implies d > cutoff — one subtract/abs/multiply per pair in place of the
    full haversine + three exp()s for the ~2/3 of pairs outside the reach
    band.  Callers must only pass a cutoff whose exceedance provably makes
    the pair invisible to the query's own filters."""
    gap = F.abs(F.col(rlat_a) - F.col(rlat_b)) * F.lit(C.EARTH_RADIUS_KM)
    return pairs.filter(gap <= F.lit(cutoff_km))


def influence_pairs_df(spark: SparkSession, sf_dir: str,
                       pred_date: str = domain.PRED_DATE,
                       routes: DataFrame | None = None) -> DataFrame:
    """Per (route, accident) influence rows — the exact per-route path.

    Every single-side kernel (grade parse, per-type constant lookups,
    radians) is evaluated ONCE at route grain, and every factor that depends
    on the route only through its type rides pre-multiplied in the
    accident_class_dim broadcast — so the pair-grain expression is down to
    the haversine, three exp()s and a handful of multiplies, in one tight
    whole-stage-codegen span.  The weather gate+cube is likewise
    pre-computed per (bucket, bucket) dim row (``wfac``).

    ``routes`` lets callers push a route subset *below* the pair join (the
    cache-warming path scores 200 routes, not the whole table).
    """
    pairs = _candidate_pairs(spark, sf_dir, pred_date, routes, grid=False)
    return _pair_influence_select(pairs)


def _route_side(spark: SparkSession, sf_dir: str,
                routes: DataFrame | None) -> DataFrame:
    """Route-grain probe side with per-route precomputed kernel inputs."""
    if routes is None:
        routes = domain.routes_df(spark, sf_dir)
    locations = domain.locations_df(spark, sf_dir)
    gdim = G.domain_grade_dim(spark, sf_dir)
    cell_lat = F.lit(GRID_CELL_LAT_DEG)
    cell_lon = F.lit(GRID_CELL_DEG)
    return G.grade_difficulty_join(
        routes.join(F.broadcast(locations), "location_id"),
        "grade", "r_gdiff", dim=gdim,
    ).select(
        "route_id", "location_id", "wbucket", "route_type", "r_gdiff",
        F.col("elevation_m").alias("r_elev"),
        F.radians("latitude").alias("r_rlat"),
        F.radians("longitude").alias("r_rlon"),
        F.cos(F.radians("latitude")).alias("r_coslat"),
        F.floor(F.col("latitude") / cell_lat).cast("int").alias("cx"),
        F.floor(F.col("longitude") / cell_lon).cast("int").alias("cy"),
    )


#  Estimated broadcast bytes per class-dim row: 13 numeric fields (8 B) +
#  route_type string + grid keys + per-row object overhead, and the grid
#  form replicates each row to the 3x3 neighborhood.  Deliberately
#  conservative — crossing the threshold late means one driver OOM; early
#  means one extra (skew-handled) shuffle.
DIM_ROW_BYTES = 200
DIM_GRID_REPLICATION = 9


def dim_broadcasts(spark: SparkSession, sf_dir: str,
                   grid: bool = True) -> bool:
    """Auto strategy chooser for the capped pair stage: does the
    7 x |accidents| class dim (x9 grid replication) fit this SESSION's
    broadcast threshold?

    |accidents| is counted through ``domain.accidents_df`` — the same
    domain mapping (and session conf pinning) every consumer of the dim
    uses, not a raw path read.  The count is a real (cheap, count-star
    pushdown) Spark job over the dim's source table, memoized per
    (sf, grid, threshold): one job per session per distinct threshold.
    On a production deployment the number would come from catalog/table
    statistics (ANALYZE), which is what this stands in for; making the
    choice explicit keeps it deterministic and testable (the skew tests
    pin the shuffle form's behavior, test_plans the broadcast form's).
    The parsed threshold rides the cache key, so changing
    ``spark.sql.autoBroadcastJoinThreshold`` mid-session re-decides
    instead of replaying a stale strategy (ADVICE r4).
    """
    cache = domain.session_cache(spark, "dim_broadcasts")
    thresh = domain._parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    key = (sf_dir, grid, thresh)
    if key not in cache:
        n_acc = domain.accidents_df(spark, sf_dir).count()
        rows = n_acc * len(domain.ROUTE_TYPE_BY_MOD) \
            * (DIM_GRID_REPLICATION if grid else 1)
        cache[key] = thresh > 0 and rows * DIM_ROW_BYTES <= thresh
    return cache[key]


def _candidate_pairs(spark: SparkSession, sf_dir: str, pred_date: str,
                     routes: DataFrame | None, grid: bool,
                     accidents: DataFrame | None = None,
                     broadcast_dim: bool | None = True) -> DataFrame:
    """Join routes against the accident-class dim (+ the weather-factor dim).

    ``grid=False``: equi-join on route_type alone — every route meets every
    accident (the exact full-sum semantics).  ``grid=True``: additionally
    equi-join on the grid cell, with the dim replicated to the 3x3 cell
    neighborhood — only accidents within ~one cell of the route are ever
    paired, which is the 100 TB plan when the search radius is capped.

    ``broadcast_dim=False`` drops the broadcast hint — the form for the
    scale regime where the accident dim itself exceeds the broadcast
    threshold and the grid join becomes a shuffle join on (route_type,
    cell).  ``broadcast_dim=None`` chooses automatically from the dim's
    footer-statistics size vs this session's broadcast threshold
    (``dim_broadcasts``).  Geographic cells skew (accident hot-spots
    cluster), so THIS form must run with AQE skew-join enabled — at cluster
    scale set ``spark.sql.adaptive.skewJoin.*`` thresholds proportional to
    partition sizes.  The dim replication already spreads a hot cell over
    7 route types x 9 neighbour cells = 63 join keys, so its reducer skew
    is mild (about 1.6x the median partition at sf0.01), not one tower.
    AQE splits a skewed partition only at map-output boundaries, and a dim
    side written by one map task can never be split: the supplier scan
    behind the dim is one partition on local data, so this form passes
    the replicated dim through ``domain.fan_out`` before its exchange (a
    no-op when the scan is already split).  ``tests/test_skew_grid.py``
    pins that the skew split activates on a 30%-hot cell, that the dim
    side has more than one mapper, and that results match the broadcast
    form exactly.  (``skew.py:replicate_broadcast_join`` remains the
    manual alternative when the dim still broadcasts but one cell
    dominates the probe side.)
    """
    r = _route_side(spark, sf_dir, routes)
    if broadcast_dim is None:  # auto: size the dim against the session conf
        broadcast_dim = dim_broadcasts(spark, sf_dir, grid=grid)
    ax = accident_class_dim(spark, sf_dir, pred_date, accidents=accidents)
    wsim = W.weather_similarity_cached(spark, sf_dir)
    wdim = wsim.select(
        "cur_bucket",
        F.col("acc_bucket").alias("w_acc_bucket"),
        K.weather_factor("weather_weight").alias("wfac"))
    if grid:
        neigh = F.array(F.lit(-1), F.lit(0), F.lit(1))
        ax = (ax.withColumn("dx", F.explode(neigh))
                .withColumn("dy", F.explode(neigh))
                .withColumn("cx", F.col("a_cx") + F.col("dx"))
                .withColumn("cy", F.col("a_cy") + F.col("dy"))
                .drop("dx", "dy"))
        if not broadcast_dim:
            ax = domain.fan_out(ax)
        keys = ["route_type", "cx", "cy"]
    else:
        keys = ["route_type"]
    pairs = domain.fan_out(r).join(
        F.broadcast(ax) if broadcast_dim else ax, keys)
    return pairs.join(
        F.broadcast(wdim),
        (pairs["wbucket"] == wdim["cur_bucket"])
        & (pairs["acc_bucket"] == wdim["w_acc_bucket"]),
        "left",
    ).drop("cur_bucket", "w_acc_bucket")


def _pair_influence_select(pairs: DataFrame) -> DataFrame:
    """The pair-grain influence projection (shared by all scoring paths)."""
    dist = K.haversine_from_parts(
        F.col("r_rlat"), F.col("r_rlon"), F.col("r_coslat"),
        F.col("a_rlat"), F.col("a_rlon"), F.col("a_coslat"))
    spatial = F.exp(-(dist * dist) / (F.lit(2.0) * F.col("bw") * F.col("bw")))
    ediff = F.abs(F.col("a_elev") - F.col("r_elev"))
    eq = ediff / F.col("edecay")
    elevation = F.when(F.col("r_elev").isNull() | F.col("a_elev").isNull(), F.lit(1.0)) \
                 .otherwise(F.lit(1.0) + F.lit(C.ELEVATION_BONUS_MAX)
                            * F.exp(-(eq * eq)))
    gdiff = F.abs(F.col("r_gdiff") - F.col("a_gdiff"))
    grade_w = F.when(F.col("r_gdiff").isNull() | F.col("a_gdiff").isNull(), F.lit(1.0)) \
               .otherwise(F.greatest(F.lit(C.GRADE_MIN_WEIGHT),
                                     F.exp(-(gdiff * gdiff)
                                           / F.lit(2.0 * C.GRADE_SIGMA**2))))
    wfac = F.coalesce(F.col("wfac"), F.lit(MISSING_WEATHER_FACTOR))
    influence = spatial * F.col("tfac") * elevation * grade_w * wfac
    return pairs.select(
        "route_id", "location_id", "accident_id",
        dist.alias("distance_km"),
        influence.alias("influence"),
    )


def _risk_agg(pairs: DataFrame) -> DataFrame:
    agg = pairs.groupBy("route_id").agg(
        F.sum("influence").alias("influence_sum"),
        F.sum(F.when(F.col("influence") > C.SIGNIFICANCE_THRESHOLD, 1)
               .otherwise(0)).alias("num_contributing"),
    )
    risk = K.normalize_risk("influence_sum")
    return agg.select(
        "route_id",
        F.round(risk, 6).alias("risk_score"),
        K.color_code(risk).alias("color_code"),
        F.col("num_contributing").cast("int").alias("num_contributing"),
    ).orderBy("route_id")


def risk_scores_df(spark: SparkSession, sf_dir: str,
                   pred_date: str = domain.PRED_DATE,
                   routes: DataFrame | None = None) -> DataFrame:
    """Flagship: per-route risk score + color at the prediction date (A1+K18)."""
    return _risk_agg(influence_pairs_df(spark, sf_dir, pred_date, routes=routes))


def influence_sums_df(spark: SparkSession, sf_dir: str,
                      pred_date: str = domain.PRED_DATE,
                      accidents: DataFrame | None = None) -> DataFrame:
    """Raw per-route influence sums (the incrementally-maintainable state
    behind risk_scores): (route_id, influence_sum, num_contributing).

    ``accidents`` restricts the pair stage to a subset — the delta-scoring
    input for incremental maintenance."""
    pairs = _pair_influence_select(
        _candidate_pairs(spark, sf_dir, pred_date, None, grid=False,
                         accidents=accidents))
    return pairs.groupBy("route_id").agg(
        F.sum("influence").alias("influence_sum"),
        F.sum(F.when(F.col("influence") > C.SIGNIFICANCE_THRESHOLD, 1)
               .otherwise(0)).alias("num_contributing"))


def apply_incremental_accidents(prior_sums: DataFrame,
                                delta_sums: DataFrame) -> DataFrame:
    """Nightly maintenance when accidents were only ADDED: fold the delta
    pair sums for the new accidents into the stored per-route sums and
    re-derive risk/color — the pair stage touches |routes| x |NEW
    accidents|, never the historical pairs.  Influence is a plain sum, so
    the update is exact up to float re-association (equivalence-tested at
    1e-9 against the full recompute); min/round/color are re-applied on the
    merged sum, not maintained.
    """
    merged = prior_sums.unionByName(delta_sums).groupBy("route_id").agg(
        F.sum("influence_sum").alias("influence_sum"),
        F.sum("num_contributing").alias("num_contributing"))
    risk = K.normalize_risk("influence_sum")
    return merged.select(
        "route_id",
        F.round(risk, 6).alias("risk_score"),
        K.color_code(risk).alias("color_code"),
        F.col("num_contributing").cast("int").alias("num_contributing"),
    ).orderBy("route_id")


def risk_scores_capped_df(spark: SparkSession, sf_dir: str,
                          pred_date: str = domain.PRED_DATE,
                          radius_km: float = C.MAX_SEARCH_RADIUS_KM) -> DataFrame:
    """Risk scores under the reference's production search cap — the plan
    that survives when accidents no longer broadcast whole.

    The reference's search paths never consider accidents beyond
    MAX_SEARCH_RADIUS_KM = 300 km (algorithm_config.py:30, the ST_DWithin
    radius scan predict.py:440-486), so only nearby accidents contribute.
    Physically this replaces "every route meets every accident" with a grid
    equi-join: routes hash into GRID_CELL_DEG cells, the accident-class dim
    is replicated to each cell's 3x3 neighborhood, and the join key is
    (route_type, cell).  Pair count drops from |R| x |A| to |R| x |A_near| —
    the asymptotic win at continental scale — while the post-join exact
    haversine filter keeps the semantics exactly "distance <= radius"
    (the cell size guarantees no within-radius pair is missed; see
    _grid_cell_deg).  The DuckDB oracle states the same semantics
    declaratively: WHERE distance_km <= radius over the full cross join.
    """
    cand = _candidate_pairs(spark, sf_dir, pred_date, None, grid=True,
                            broadcast_dim=None)
    # r12 (guide §2.3): the radius filter implies |dlat| * R <= radius, so
    # pruning on the latitude gap first short-circuits the haversine for
    # the grid-corner surplus — provably removing only pairs the
    # distance_km <= radius filter discards anyway (1% slack absorbs IEEE
    # rounding of the engine-side haversine).
    pairs = _pair_influence_select(_lat_gap_prefilter(cand, radius_km * 1.01))
    return _risk_agg(pairs.filter(F.col("distance_km") <= F.lit(radius_km)))


def top_contributors_df(spark: SparkSession, sf_dir: str,
                        pred_date: str = domain.PRED_DATE,
                        limit: int = C.MAX_CONTRIBUTING_ACCIDENTS) -> DataFrame:
    """W1: top-k contributing accidents per route via row_number window.

    Reference: safety_algorithm.py:370-415 (sort desc, take 50).  Ties are
    broken by accident_id for determinism.

    Scale shape: the rank<=limit filter over a row_number window triggers
    Spark's WindowGroupLimit rewrite (SPARK-37099): a PARTIAL group-limit
    runs below the exchange, truncating every map partition to its local
    top-``limit`` per route before anything shuffles — an exact-superset
    reduction (a row in the global top-k of its route is by definition in
    the top-k of every subset containing it).  With accidents on the
    broadcast side each route's pairs are generated inside one partition,
    so the window's exchange+sort touches ~|routes|*limit rows instead of
    ~|routes|*|accidents| — all JVM-side, inside the same codegen pipeline
    as the influence kernels.  (Round 3 hand-rolled this truncation as an
    Arrow ``mapInPandas`` stage; that paid ~1M-row Arrow serialization at
    sf0.1 to do what WindowGroupLimit already does natively — removed in
    round 4, the plan test now pins the Partial group-limit shape.)
    """
    # r12 (guide §2.3): unlike risk_scores (which sums EVERY pair), this
    # query discards pairs at influence <= SIGNIFICANCE_THRESHOLD, so the
    # significance-reach latitude-gap prefilter is lossless here: pairs
    # whose latitude gap alone puts them beyond significance_reach_km
    # never evaluate the haversine + three-exp influence expression.
    # A latitude-band equi-join on the same reach was slower (sf1 64.4 s vs
    # 62.7 s): codegen already fuses this filter into the join loop.
    reach = significance_reach_km(spark, sf_dir)
    cand = _candidate_pairs(spark, sf_dir, pred_date, None, grid=False)
    pairs = _pair_influence_select(_lat_gap_prefilter(cand, reach))
    return _topk_from_pairs(pairs, limit)


def top_contributors_capped_df(spark: SparkSession, sf_dir: str,
                               pred_date: str = domain.PRED_DATE,
                               limit: int = C.MAX_CONTRIBUTING_ACCIDENTS,
                               radius_km: float = C.MAX_SEARCH_RADIUS_KM) -> DataFrame:
    """W1 under the production 300 km search cap: grid-pair generation (see
    risk_scores_capped_df) feeding the same WindowGroupLimit-truncated
    top-k — the attribution surface that stays fast when the corpus stops
    broadcasting (sf1: the pair stage is ~11x cheaper than uncapped)."""
    cand = _candidate_pairs(spark, sf_dir, pred_date, None, grid=True)
    # both the radius cap and the significance filter bound the reach;
    # prune on the tighter of the two latitude-gap bounds (guide §2.3)
    cut = min(radius_km * 1.01, significance_reach_km(spark, sf_dir))
    pairs = _pair_influence_select(_lat_gap_prefilter(cand, cut)) \
        .filter(F.col("distance_km") <= F.lit(radius_km))
    return _topk_from_pairs(pairs, limit)


def _topk_from_pairs(pairs: DataFrame,
                     limit: int = C.MAX_CONTRIBUTING_ACCIDENTS) -> DataFrame:
    from pyspark.sql import Window
    pruned = (pairs.filter(F.col("influence") > C.SIGNIFICANCE_THRESHOLD)
                   .select("route_id", "accident_id", "influence",
                           "distance_km"))
    w = Window.partitionBy("route_id").orderBy(
        F.col("influence").desc(), F.col("accident_id").asc())
    return (pruned.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= limit)
                  .select("route_id",
                          F.col("rank").cast("int").alias("rank"),
                          "accident_id",
                          F.round("influence", 6).alias("influence"),
                          F.round("distance_km", 3).alias("distance_km"))
                  .orderBy("route_id", "rank"))


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

def _influence_sql(pred_date: str) -> str:
    """Shared CTE chain ending in pair-grain influence rows.

    Mirrors the factorized Spark plan: ``tdim`` pre-multiplies
    temporal x route_type_matrix x severity per (route_type, accident) —
    the same association order as accident_class_dim — so the pair-grain
    product ``spatial * tfac * elevation * grade * wfac`` is bit-identical
    on both engines."""
    dist = S.haversine_km("p.latitude", "p.longitude",
                          "p.a_latitude", "p.a_longitude")
    tfac = (
        f"{S.temporal_weight(f_date(pred_date), 'a.accident_date', 'rt.route_type')}"
        f" * {S.route_type_weight('rt.route_type', 'a.route_type')}"
        f" * {S.severity_weight('a.severity')}"
    )
    wfac = f"coalesce({S.weather_factor('ws.weather_weight')}, {MISSING_WEATHER_FACTOR!r})"
    influence = (
        f"{S.spatial_weight('p.dist', 'p.route_type')}"
        f" * p.tfac"
        f" * {S.elevation_weight('p.elevation_m', 'p.a_elevation_m', 'p.route_type')}"
        f" * {S.grade_weight_from_difficulty(S.parse_grade('p.grade'), S.parse_grade('p.a_grade'))}"
        f" * {wfac}"
    )
    rtypes = ", ".join(f"('{t}')" for t in domain.ROUTE_TYPE_BY_MOD)
    return f"""
WITH {domain.ROUTES_CTE.strip()},
{domain.LOCATIONS_CTE.strip()},
{domain.ACCIDENTS_CTE.strip()},
{domain.WEATHER_CTE.strip()},
{domain.ARCHIVE_STATS_CTE.strip()},
{W.wsim_ctes().strip()},
rtypes(route_type) AS (VALUES {rtypes}),
tdim AS (
  SELECT rt.route_type, a.accident_id, {tfac} AS tfac
  FROM rtypes rt CROSS JOIN accidents a
),
pair0 AS (
  SELECT r.route_id, r.location_id, r.route_type, r.grade,
         l.latitude, l.longitude, l.elevation_m, l.wbucket,
         a.accident_id, a.latitude AS a_latitude, a.longitude AS a_longitude,
         a.elevation_m AS a_elevation_m, a.grade AS a_grade,
         a.wbucket AS acc_bucket, t.tfac
  FROM routes r
  JOIN locations l ON r.location_id = l.location_id
  CROSS JOIN accidents a
  JOIN tdim t ON t.route_type = r.route_type AND t.accident_id = a.accident_id
),
pair1 AS (
  SELECT p.*, {dist} AS dist FROM pair0 p
),
pairs AS (
  SELECT p.route_id, p.accident_id, p.dist AS distance_km,
         {influence} AS influence
  FROM pair1 p
  LEFT JOIN wsim ws ON p.wbucket = ws.cur_bucket AND p.acc_bucket = ws.acc_bucket
)"""


def f_date(d: str) -> str:
    return f"DATE '{d}'"


def risk_scores_sql(pred_date: str = domain.PRED_DATE) -> str:
    risk = S.normalize_risk("sum(influence)")
    return f"""{_influence_sql(pred_date)}
SELECT route_id,
       round({risk}, 6) AS risk_score,
       {S.color_code(risk)} AS color_code,
       CAST(sum(CASE WHEN influence > {C.SIGNIFICANCE_THRESHOLD!r} THEN 1 ELSE 0 END) AS INT)
         AS num_contributing
FROM pairs
GROUP BY route_id
ORDER BY route_id"""


def risk_scores_capped_sql(pred_date: str = domain.PRED_DATE,
                           radius_km: float = C.MAX_SEARCH_RADIUS_KM) -> str:
    risk = S.normalize_risk("sum(influence)")
    return f"""{_influence_sql(pred_date)}
SELECT route_id,
       round({risk}, 6) AS risk_score,
       {S.color_code(risk)} AS color_code,
       CAST(sum(CASE WHEN influence > {C.SIGNIFICANCE_THRESHOLD!r} THEN 1 ELSE 0 END) AS INT)
         AS num_contributing
FROM pairs
WHERE distance_km <= {radius_km!r}
GROUP BY route_id
ORDER BY route_id"""


def top_contributors_sql(pred_date: str = domain.PRED_DATE,
                         limit: int = C.MAX_CONTRIBUTING_ACCIDENTS,
                         radius_km: float | None = None) -> str:
    cap = (f"AND distance_km <= {radius_km!r}" if radius_km is not None
           else "")
    return f"""{_influence_sql(pred_date)}
SELECT route_id, CAST(rank AS INT) AS rank, accident_id,
       round(influence, 6) AS influence, round(distance_km, 3) AS distance_km
FROM (
  SELECT route_id, accident_id, influence, distance_km,
         row_number() OVER (PARTITION BY route_id
                            ORDER BY influence DESC, accident_id ASC) AS rank
  FROM pairs
  WHERE influence > {C.SIGNIFICANCE_THRESHOLD!r} {cap}
)
WHERE rank <= {limit}
ORDER BY route_id, rank"""


def top_contributors_capped_sql(pred_date: str = domain.PRED_DATE,
                                limit: int = C.MAX_CONTRIBUTING_ACCIDENTS,
                                radius_km: float = C.MAX_SEARCH_RADIUS_KM) -> str:
    return top_contributors_sql(pred_date, limit, radius_km=radius_km)


def factor_breakdown_df(spark: SparkSession, sf_dir: str,
                        pred_date: str = domain.PRED_DATE,
                        max_route_id: int = 20) -> DataFrame:
    """Risk-breakdown attribution (mp_routes.py:995-1124): per significant
    (route, accident) pair, every factor of the influence product.

    Restricted to a route subset — the endpoint is a per-route drill-down,
    not a batch surface.  Like the batch paths, the route-type-only
    factors (temporal, route-type matrix, severity) and the grade PARSE
    evaluate once per (route_type, accident) in a broadcast dim — not at
    pair grain — which turns the cross join into a BroadcastHashJoin on
    route_type and keeps the pair projection small enough for whole-stage
    codegen (the inline form's two parse_grade trees + the 49-way matrix
    blew the 64 KB generated-method limit and ran interpreted).  Factor
    VALUES are unchanged: each factor is the same kernel expression over
    the same inputs, grade_weight == grade_weight_from_difficulty of the
    parsed difficulties (kernels.py:318), and the influence product keeps
    the exact factor order, so the raw-formula DuckDB oracle still
    matches."""
    routes = domain.routes_df(spark, sf_dir).filter(
        F.col("route_id") < max_route_id)
    locations = domain.locations_df(spark, sf_dir)
    accidents = domain.accidents_df(spark, sf_dir)
    wsim = W.weather_similarity_cached(spark, sf_dir)
    gdim = G.domain_grade_dim(spark, sf_dir)
    pd_col = F.to_date(F.lit(pred_date))

    r = G.grade_difficulty_join(
        routes.join(F.broadcast(locations), "location_id"),
        "grade", "r_diff", dim=gdim)
    rt = domain.local_frame(spark, [(t,) for t in domain.ROUTE_TYPE_BY_MOD],
                            "route_type string")
    a = G.grade_difficulty_join(accidents, "grade", "a_diff", dim=gdim) \
         .select("accident_id", "accident_date", "severity", "a_diff",
                 F.col("route_type").alias("a_type"),
                 F.col("latitude").alias("a_lat"),
                 F.col("longitude").alias("a_lon"),
                 F.col("elevation_m").alias("a_elev"),
                 F.col("wbucket").alias("acc_bucket"))
    adim = F.broadcast(rt).crossJoin(a).select(
        "route_type", "accident_id",
        "a_lat", "a_lon", "a_elev", "a_diff", "acc_bucket",
        K.temporal_weight(pd_col, "accident_date", "route_type")
         .alias("t_w"),
        K.route_type_weight("route_type", "a_type").alias("rt_w"),
        K.severity_weight("severity").alias("sev_w"))
    pairs = r.join(F.broadcast(adim), "route_type")
    pairs = pairs.join(
        F.broadcast(wsim),
        (pairs["wbucket"] == wsim["cur_bucket"])
        & (pairs["acc_bucket"] == wsim["acc_bucket"]), "left",
    ).drop(wsim["acc_bucket"]).drop("cur_bucket")

    dist = K.haversine_km("latitude", "longitude", "a_lat", "a_lon")
    spatial = K.spatial_weight(dist, "route_type")
    temporal = F.col("t_w")
    elevation = K.elevation_weight("elevation_m", "a_elev", "route_type")
    rt_w = F.col("rt_w")
    sev_w = F.col("sev_w")
    grade_w = K.grade_weight_from_difficulty("r_diff", "a_diff")
    weather_w = F.coalesce(F.col("weather_weight"),
                           F.lit(C.MISSING_WEATHER_NEUTRAL))
    wfac = K.weather_factor(weather_w)
    influence = spatial * temporal * elevation * rt_w * sev_w * grade_w * wfac
    return (pairs.select(
                "route_id", "accident_id",
                F.round(dist, 3).alias("distance_km"),
                F.round(spatial, 6).alias("spatial_weight"),
                F.round(temporal, 6).alias("temporal_weight"),
                F.round(elevation, 6).alias("elevation_weight"),
                F.round(rt_w, 6).alias("route_type_weight"),
                F.round(sev_w, 6).alias("severity_weight"),
                F.round(grade_w, 6).alias("grade_weight"),
                F.round(weather_w, 6).alias("weather_weight"),
                influence.alias("raw_influence"))
             .filter(F.col("raw_influence") > C.SIGNIFICANCE_THRESHOLD)
             .select("route_id", "accident_id", "distance_km",
                     "spatial_weight", "temporal_weight", "elevation_weight",
                     "route_type_weight", "severity_weight", "grade_weight",
                     "weather_weight",
                     F.round("raw_influence", 6).alias("influence"))
             .orderBy("route_id", "accident_id"))


def factor_breakdown_sql(pred_date: str = domain.PRED_DATE,
                         max_route_id: int = 20) -> str:
    dist = S.haversine_km("l.latitude", "l.longitude", "a.latitude", "a.longitude")
    weather_w = "coalesce(ws.weather_weight, 0.5)"
    spatial = S.spatial_weight(f"({dist})", "r.route_type")
    temporal = S.temporal_weight(f_date(pred_date), "a.accident_date",
                                 "r.route_type")
    elevation = S.elevation_weight("l.elevation_m", "a.elevation_m",
                                   "r.route_type")
    rt_w = S.route_type_weight("r.route_type", "a.route_type")
    sev_w = S.severity_weight("a.severity")
    grade_w = S.grade_weight_from_difficulty(
        S.parse_grade("r.grade"), S.parse_grade("a.grade"))
    wfac = S.weather_factor(weather_w)
    influence = (f"{spatial} * {temporal} * {elevation} * {rt_w} * {sev_w}"
                 f" * {grade_w} * {wfac}")
    return f"""
WITH {domain.ROUTES_CTE.strip()},
{domain.LOCATIONS_CTE.strip()},
{domain.ACCIDENTS_CTE.strip()},
{domain.WEATHER_CTE.strip()},
{domain.ARCHIVE_STATS_CTE.strip()},
{W.wsim_ctes().strip()},
bd AS (
  SELECT r.route_id, a.accident_id,
         round({dist}, 3) AS distance_km,
         round({spatial}, 6) AS spatial_weight,
         round({temporal}, 6) AS temporal_weight,
         round({elevation}, 6) AS elevation_weight,
         round({rt_w}, 6) AS route_type_weight,
         round({sev_w}, 6) AS severity_weight,
         round({grade_w}, 6) AS grade_weight,
         round({weather_w}, 6) AS weather_weight,
         {influence} AS raw_influence
  FROM routes r
  JOIN locations l ON r.location_id = l.location_id
  CROSS JOIN accidents a
  LEFT JOIN wsim ws ON l.wbucket = ws.cur_bucket AND a.wbucket = ws.acc_bucket
  WHERE r.route_id < {max_route_id}
)
SELECT route_id, accident_id, distance_km, spatial_weight, temporal_weight,
       elevation_weight, route_type_weight, severity_weight, grade_weight,
       weather_weight, round(raw_influence, 6) AS influence
FROM bd WHERE raw_influence > {C.SIGNIFICANCE_THRESHOLD!r}
ORDER BY route_id, accident_id"""


def cache_warming_df(spark: SparkSession, sf_dir: str,
                     top_n: int = 200) -> DataFrame:
    """Cache-warming analog (tasks/cache_warming.py:24-154): score ONLY the
    top-N most popular routes, like the reference.

    Scale shape: top-N selection is ``orderBy().limit(n)`` — Spark executes
    it as a distributed TakeOrderedAndProject (per-partition top-N, merge on
    one reducer), never a single-partition global sort of the routes table.
    The bounded N-row subset is then ranked (window over one tiny explicit
    partition) and pushed *below* the scoring cross join via the ``routes``
    override, so only N routes ever enter the pair stage — at 100 TB this is
    scoring 200 routes, not the full table, to serve 200.
    """
    from pyspark.sql import Window
    routes = domain.routes_df(spark, sf_dir)
    pop_order = [F.col("popularity").desc_nulls_last(), F.col("route_id").asc()]
    top = routes.orderBy(*pop_order).limit(top_n)
    # Rank the bounded N-row subset. partitionBy must be non-foldable or
    # Catalyst folds it to an empty spec (single-partition WindowExec warn);
    # route_id % 1 is constant-valued but column-derived, so the spec stays.
    rank_w = Window.partitionBy(F.col("route_id") % 1).orderBy(*pop_order)
    ranks = (top.select("route_id", "popularity")
                .withColumn("pop_rank", F.row_number().over(rank_w))
                .select("route_id", "pop_rank"))
    scores = risk_scores_df(spark, sf_dir, routes=top)
    return (scores.join(F.broadcast(ranks), "route_id")
                  .select("route_id",
                          F.col("pop_rank").cast("int").alias("pop_rank"),
                          "risk_score", "color_code")
                  .orderBy("pop_rank"))


def cache_warming_sql(top_n: int = 200) -> str:
    inner = risk_scores_sql()
    return f"""
WITH scores AS ({inner}),
ranked AS (
  SELECT route_id,
         row_number() OVER (ORDER BY popularity DESC NULLS LAST,
                            route_id ASC) AS pop_rank
  FROM (SELECT c_custkey AS route_id, c_acctbal AS popularity FROM customer)
)
SELECT s.route_id, CAST(r.pop_rank AS INT) AS pop_rank,
       s.risk_score, s.color_code
FROM scores s JOIN ranked r ON s.route_id = r.route_id
WHERE r.pop_rank <= {top_n}
ORDER BY pop_rank"""
