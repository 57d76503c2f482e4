"""Location-factorized batch scoring (P3) — the nightly-pipeline analog.

The reference's key manual optimization (location_safety_computation.py:1-24)
computes expensive per-accident factors once per LOCATION (~6x fewer than
routes) and applies only the cheap route-type/grade adjustments per route:

    base(location, accident) = spatial x temporal x elevation x severity
                               x gate(weather)^3        [mode route type]
    influence(route, accident) = base x rt_weight x grade_weight
    risk(route) = min(100, sum(influence) * 7)

Two physical strategies, same algebra (both oracle-verified):

* ``batch_scores``        — base rows (pruned at 1e-6) joined to routes at
  (location, accident) pair grain.  ~75x less transcendental math than the
  direct path; the route join is cheap arithmetic.
* ``batch_scores_classed`` — additionally groups base by the accident
  *adjustment class* (route-type index, grade difficulty) before the route
  join: rt_weight x grade_weight depends on the accident only through that
  low-cardinality class, so sum(base x rtw x gw) = sum_class(rtw x gw x
  sum(base)).  The route-level join shrinks from |significant accidents| to
  ~|classes| (7 types x ~50 grades at real scale) rows per location — this
  is the 100 TB plan.

Canonical-semantics notes (SURVEY.md §4): exact seasonal boost (not the
batch path's flat 0.25 approximation) and bonus-only elevation (not the
batch path's asymmetric penalty); both divergences are internal bugs of the
reference's batch path that its own scalar path contradicts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as C
from .. import domain
from .. import grades as G
from .. import kernels as K
from .. import sqlgen as S
from . import relational as R
from . import weather as W
from .scoring import f_date


def _location_base_df(spark: SparkSession, sf_dir: str,
                      pred_date: str,
                      radius_km: float | None = None) -> DataFrame:
    """base(location, accident) with the location's mode route type.

    ``radius_km`` switches the pair stage from the full cross join to the
    grid-cell equi-join (see scoring.risk_scores_capped_df): the accident
    side is replicated to the 3x3 cell neighborhood, pairs outside the
    exact radius are trimmed — |locations| x |nearby| pairs at continental
    scale."""
    from .scoring import GRID_CELL_DEG, GRID_CELL_LAT_DEG
    cell_lat = F.lit(GRID_CELL_LAT_DEG)
    cell_lon = F.lit(GRID_CELL_DEG)
    loc = domain.locations_df(spark, sf_dir)
    mode = R.q_location_mode_type(spark, sf_dir).select(
        "location_id", F.col("mode_type").alias("route_type"))
    lm = loc.join(F.broadcast(mode), "location_id").select(
        "location_id", "wbucket",
        F.col("elevation_m").alias("l_elev"),
        F.radians("latitude").alias("l_rlat"),
        F.radians("longitude").alias("l_rlon"),
        F.cos(F.radians("latitude")).alias("l_coslat"),
        F.floor(F.col("latitude") / cell_lat).cast("int").alias("cx"),
        F.floor(F.col("longitude") / cell_lon).cast("int").alias("cy"),
        K.spatial_bandwidth("route_type").alias("l_bw"),
        K.temporal_lambda("route_type").alias("l_lam"),
        K.map_literal(C.ELEVATION_DECAY_CONSTANT, "route_type",
                      C.ELEVATION_DECAY_CONSTANT["default"]).alias("l_edecay"),
    )
    accidents = domain.accidents_df(spark, sf_dir)
    a = accidents.select(
        F.col("accident_id"),
        F.col("elevation_m").alias("a_elev"),
        F.radians("latitude").alias("a_rlat"),
        F.radians("longitude").alias("a_rlon"),
        F.cos(F.radians("latitude")).alias("a_coslat"),
        F.floor(F.col("latitude") / cell_lat).cast("int").alias("a_cx"),
        F.floor(F.col("longitude") / cell_lon).cast("int").alias("a_cy"),
        F.abs(F.datediff(F.to_date(F.lit(pred_date)), F.col("accident_date")))
         .cast("double").alias("a_days"),
        (K.season_of("accident_date") == F.lit(K.season_of_py(pred_date)))
         .alias("a_same_season"),
        K.severity_weight("severity").alias("a_sevw"),
        K.route_type_index("route_type").alias("a_tidx"),
        F.col("grade").alias("a_grade"),
        F.col("wbucket").alias("acc_bucket"),
    )
    a = G.grade_difficulty_join(
        a.withColumnRenamed("a_grade", "grade"), "grade", "a_gdiff",
        dim=G.domain_grade_dim(spark, sf_dir)).drop("grade")
    wsim = W.weather_similarity_cached(spark, sf_dir)

    # r12 (guide §2.3): base rows below SIGNIFICANCE_THRESHOLD are discarded
    # at the end of this function, and base <= the full influence bound
    # (rt/grade factors are <= 1), so the significance-reach latitude-gap
    # prefilter is lossless here too; the capped form additionally prunes
    # at the (tighter) radius bound the dist <= radius filter implies.
    from .scoring import significance_reach_km, _lat_gap_prefilter
    cut = significance_reach_km(spark, sf_dir)
    if radius_km is not None:
        cut = min(cut, radius_km * 1.01)
        neigh = F.array(F.lit(-1), F.lit(0), F.lit(1))
        a9 = (a.withColumn("dx", F.explode(neigh))
               .withColumn("dy", F.explode(neigh))
               .withColumn("cx", F.col("a_cx") + F.col("dx"))
               .withColumn("cy", F.col("a_cy") + F.col("dy"))
               .drop("dx", "dy", "a_cx", "a_cy"))
        pairs = lm.join(F.broadcast(a9), ["cx", "cy"])
    else:
        # No latitude-band join: the fused lat-gap filter below is cheaper.
        pairs = lm.crossJoin(F.broadcast(a.drop("a_cx", "a_cy")))
    pairs = pairs.join(
        F.broadcast(wsim),
        (pairs["wbucket"] == wsim["cur_bucket"])
        & (pairs["acc_bucket"] == wsim["acc_bucket"]), "left",
    ).drop(wsim["acc_bucket"]).drop("cur_bucket")
    pairs = _lat_gap_prefilter(pairs, cut, rlat_a="a_rlat", rlat_b="l_rlat")

    dist = K.haversine_from_parts(
        F.col("l_rlat"), F.col("l_rlon"), F.col("l_coslat"),
        F.col("a_rlat"), F.col("a_rlon"), F.col("a_coslat"))
    spatial = F.exp(-(dist * dist) / (F.lit(2.0) * F.col("l_bw") * F.col("l_bw")))
    base_decay = F.pow(F.col("l_lam"), F.col("a_days"))
    temporal = ((F.lit(1.0) - F.lit(C.TEMPORAL_DECAY_IMPACT)
                 * (F.lit(1.0) - F.pow(base_decay, F.lit(C.TEMPORAL_DECAY_SHAPE))))
                * F.when(F.col("a_same_season"), F.lit(C.SEASONAL_MULTIPLIER))
                   .otherwise(F.lit(1.0)))
    ediff = F.abs(F.col("a_elev") - F.col("l_elev"))
    eq = ediff / F.col("l_edecay")
    elevation = F.when(F.col("l_elev").isNull() | F.col("a_elev").isNull(), F.lit(1.0)) \
                 .otherwise(F.lit(1.0) + F.lit(C.ELEVATION_BONUS_MAX)
                            * F.exp(-(eq * eq)))
    weather_w = F.coalesce(F.col("weather_weight"),
                           F.lit(C.MISSING_WEATHER_NEUTRAL))
    base = spatial * temporal * elevation * F.col("a_sevw") \
        * K.weather_factor(weather_w)
    out = pairs.select("location_id", "accident_id", "a_tidx", "a_gdiff",
                       dist.alias("dist"), base.alias("base"))
    if radius_km is not None:
        out = out.filter(F.col("dist") <= F.lit(radius_km))
    return (out.drop("dist")
               .filter(F.col("base") > C.SIGNIFICANCE_THRESHOLD))


def _routes_adj_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    routes = domain.routes_df(spark, sf_dir)
    return G.grade_difficulty_join(
        routes, "grade", "r_gdiff",
        dim=G.domain_grade_dim(spark, sf_dir)).select(
        "route_id", "location_id", "r_gdiff",
        K.route_type_index("route_type").alias("r_tidx"))


def _grade_w(r_gdiff, a_gdiff):
    gd = F.abs(r_gdiff - a_gdiff)
    return F.when(r_gdiff.isNull() | a_gdiff.isNull(), F.lit(1.0)) \
            .otherwise(F.greatest(F.lit(C.GRADE_MIN_WEIGHT),
                                  F.exp(-(gd * gd) / F.lit(2.0 * C.GRADE_SIGMA**2))))


def batch_scores_df(spark: SparkSession, sf_dir: str,
                    pred_date: str = domain.PRED_DATE) -> DataFrame:
    """Factorized nightly scores at (location, accident) pair grain."""
    base = _location_base_df(spark, sf_dir, pred_date)
    r = _routes_adj_df(spark, sf_dir)
    j = r.join(base, "location_id")
    infl = (F.col("base")
            * K.route_type_weight_indexed("r_tidx", "a_tidx")
            * _grade_w(F.col("r_gdiff"), F.col("a_gdiff")))
    agg = (j.select("route_id", infl.alias("influence"))
             .groupBy("route_id")
             .agg(F.sum("influence").alias("s")))
    risk = K.normalize_risk("s")
    return agg.select("route_id",
                      F.round(risk, 6).alias("risk_score"),
                      K.color_code(risk).alias("color_code")) \
              .orderBy("route_id")


def batch_scores_classed_df(spark: SparkSession, sf_dir: str,
                            pred_date: str = domain.PRED_DATE,
                            radius_km: float | None = None) -> DataFrame:
    """Same algebra with the accident-class factorization (the scale plan)."""
    base = _location_base_df(spark, sf_dir, pred_date, radius_km=radius_km)
    classed = base.groupBy("location_id", "a_tidx", "a_gdiff").agg(
        F.sum("base").alias("base_sum"))
    r = _routes_adj_df(spark, sf_dir)
    j = r.join(classed, "location_id")
    infl = (F.col("base_sum")
            * K.route_type_weight_indexed("r_tidx", "a_tidx")
            * _grade_w(F.col("r_gdiff"), F.col("a_gdiff")))
    agg = (j.select("route_id", infl.alias("influence"))
             .groupBy("route_id")
             .agg(F.sum("influence").alias("s")))
    risk = K.normalize_risk("s")
    return agg.select("route_id",
                      F.round(risk, 6).alias("risk_score"),
                      K.color_code(risk).alias("color_code")) \
              .orderBy("route_id")


def batch_scores_capped_df(spark: SparkSession, sf_dir: str,
                           pred_date: str = domain.PRED_DATE,
                           radius_km: float = C.MAX_SEARCH_RADIUS_KM) -> DataFrame:
    """The full 100 TB nightly plan: grid-capped location base (pair count
    |locations| x |nearby accidents|) + accident-class factorization
    (route-level join bounded by |classes| per location) — the composition
    of every scale lever in one pipeline, under the reference's production
    300 km search cap."""
    return batch_scores_classed_df(spark, sf_dir, pred_date,
                                   radius_km=radius_km)


# ---------------------------------------------------------------------------
# Oracle SQL
# ---------------------------------------------------------------------------

def _base_sql(pred_date: str, radius_km: float | None = None) -> str:
    dist = S.haversine_km("l.latitude", "l.longitude",
                          "a.latitude", "a.longitude")
    spatial = S.spatial_weight(f"({dist})", "m.mode_type")
    temporal = S.temporal_weight(f_date(pred_date), "a.accident_date",
                                 "m.mode_type")
    elevation = S.elevation_weight("l.elevation_m", "a.elevation_m",
                                   "m.mode_type")
    sev = S.severity_weight("a.severity")
    weather_w = "coalesce(ws.weather_weight, 0.5)"
    base = (f"{spatial} * {temporal} * {elevation} * {sev} * "
            f"{S.weather_factor(weather_w)}")
    cap = f" AND dist <= {radius_km!r}" if radius_km is not None else ""
    return f"""
WITH {domain.ROUTES_CTE.strip()},
{domain.LOCATIONS_CTE.strip()},
{domain.ACCIDENTS_CTE.strip()},
{domain.WEATHER_CTE.strip()},
{domain.ARCHIVE_STATS_CTE.strip()},
{W.wsim_ctes().strip()},
mode_type AS (
  SELECT location_id, route_type AS mode_type
  FROM (
    SELECT location_id, route_type, count(*) AS n,
           row_number() OVER (PARTITION BY location_id
                              ORDER BY count(*) DESC, route_type ASC) AS rn
    FROM routes GROUP BY location_id, route_type
  ) WHERE rn = 1
),
grades_dim AS (
  SELECT grade, {S.parse_grade('grade')} AS difficulty
  FROM (SELECT DISTINCT grade FROM routes
        UNION SELECT DISTINCT grade FROM accidents)
  WHERE grade IS NOT NULL
),
base AS (
  SELECT l.location_id,
         a.accident_id,
         {S.route_type_index_sql('a.route_type')} AS a_tidx,
         ga.difficulty AS a_gdiff,
         {dist} AS dist,
         {base} AS base
  FROM locations l
  JOIN mode_type m ON l.location_id = m.location_id
  CROSS JOIN accidents a
  LEFT JOIN grades_dim ga ON a.grade = ga.grade
  LEFT JOIN wsim ws ON l.wbucket = ws.cur_bucket AND a.wbucket = ws.acc_bucket
),
sig_base AS (
  SELECT location_id, accident_id, a_tidx, a_gdiff, base
  FROM base WHERE base > {C.SIGNIFICANCE_THRESHOLD!r}{cap}
),
routes_adj AS (
  SELECT r.route_id, r.location_id,
         {S.route_type_index_sql('r.route_type')} AS r_tidx,
         gr.difficulty AS r_gdiff
  FROM routes r LEFT JOIN grades_dim gr ON r.grade = gr.grade
)"""


def _rt_from_idx(p: str, a: str) -> str:
    """Matrix weight from precomputed indexes, row-major flat CASE."""
    whens = " ".join(
        f"WHEN {p} = {pi} AND {a} = {ai} THEN "
        f"{C.ROUTE_TYPE_WEIGHTS[(pt, at)]!r}"
        for pi, pt in enumerate(C.ROUTE_TYPES)
        for ai, at in enumerate(C.ROUTE_TYPES))
    return f"(CASE {whens} ELSE {C.DEFAULT_ROUTE_TYPE_WEIGHT!r} END)"


def _grade_w_sql(r: str, a: str) -> str:
    return S.grade_weight_from_difficulty(r, a)


def batch_scores_sql(pred_date: str = domain.PRED_DATE) -> str:
    risk = S.normalize_risk("sum(influence)")
    return f"""{_base_sql(pred_date)},
joined AS (
  SELECT ra.route_id,
         b.base * {_rt_from_idx('ra.r_tidx', 'b.a_tidx')}
                * {_grade_w_sql('ra.r_gdiff', 'b.a_gdiff')} AS influence
  FROM routes_adj ra JOIN sig_base b ON ra.location_id = b.location_id
)
SELECT route_id, round({risk}, 6) AS risk_score,
       {S.color_code(risk)} AS color_code
FROM joined GROUP BY route_id ORDER BY route_id"""


def batch_scores_capped_sql(pred_date: str = domain.PRED_DATE,
                            radius_km: float = C.MAX_SEARCH_RADIUS_KM) -> str:
    return batch_scores_classed_sql(pred_date, radius_km=radius_km)


def batch_scores_classed_sql(pred_date: str = domain.PRED_DATE,
                             radius_km: float | None = None) -> str:
    risk = S.normalize_risk("sum(influence)")
    return f"""{_base_sql(pred_date, radius_km=radius_km)},
classed AS (
  SELECT location_id, a_tidx, a_gdiff, sum(base) AS base_sum
  FROM sig_base GROUP BY location_id, a_tidx, a_gdiff
),
joined AS (
  SELECT ra.route_id,
         c.base_sum * {_rt_from_idx('ra.r_tidx', 'c.a_tidx')}
                    * {_grade_w_sql('ra.r_gdiff', 'c.a_gdiff')} AS influence
  FROM routes_adj ra JOIN classed c ON ra.location_id = c.location_id
)
SELECT route_id, round({risk}, 6) AS risk_score,
       {S.color_code(risk)} AS color_code
FROM joined GROUP BY route_id ORDER BY route_id"""


# --- Incremental nightly scoring (round 11) ----------------------------------
# Incremental view maintenance for the factorized nightly pipeline: the
# classed base aggregate is ADDITIVE over accidents, so a night that
# ingests only new accidents can merge per-batch partial aggregates
# instead of rescoring the corpus — partial(location, class) sums per
# ingest batch, union, re-aggregate, then the unchanged cheap route
# tail.  This query PROVES merge == full recompute through the driver
# hash: the engine computes per-batch partials (accident_id % INC_NEW_MOD
# models the fresh batch) and merges them; the oracle computes the
# single-pass full aggregate.  For the merge to be exactly
# order-independent the base factor is quantized to pico-units BEFORE
# summation (floor(base * 1e12) on DECIMAL(38,0)/HUGEINT — the
# oracle-parity discipline; base itself is the same double expression
# tree both sides, and both convert the SAME exact integer back to
# double for the route tail), so the two-phase and one-phase sums are
# bitwise identical, unlike a raw double sum whose addition order
# differs between the phases.
#
# Scale shape: identical to batch_scores_classed (ONE base pass — the
# batch flag is a projection, not a second scan) plus a (location x
# class x batch)-grain intermediate; at a real deployment the partials
# PERSIST per night and only the new batch's base is ever computed —
# this is the algebra that makes that correct.

INC_NEW_MOD = 5      # accident_id % 5 == 0 := tonight's fresh batch
INC_PICO = 1_000_000_000_000


def q_batch_scores_incremental(spark: SparkSession, sf_dir: str,
                               pred_date: str = domain.PRED_DATE
                               ) -> DataFrame:
    base = _location_base_df(spark, sf_dir, pred_date)
    pico = f"CAST(floor(base * {INC_PICO}) AS DECIMAL(38,0))"
    partials = (base.withColumn(
                    "batch",
                    (F.col("accident_id") % INC_NEW_MOD == 0).cast("int"))
                .groupBy("location_id", "a_tidx", "a_gdiff", "batch")
                .agg(F.sum(F.expr(pico)).alias("bp")))
    merged = (partials.groupBy("location_id", "a_tidx", "a_gdiff")
                      .agg(F.sum("bp").alias("bps")))
    classed = merged.select(
        "location_id", "a_tidx", "a_gdiff",
        (F.col("bps").cast("double") / F.lit(float(INC_PICO)))
         .alias("base_sum"))
    r = _routes_adj_df(spark, sf_dir)
    j = r.join(classed, "location_id")
    infl = (F.col("base_sum")
            * K.route_type_weight_indexed("r_tidx", "a_tidx")
            * _grade_w(F.col("r_gdiff"), F.col("a_gdiff")))
    agg = (j.select("route_id", infl.alias("influence"))
             .groupBy("route_id")
             .agg(F.sum("influence").alias("s")))
    risk = K.normalize_risk("s")
    return agg.select("route_id",
                      F.round(risk, 6).alias("risk_score"),
                      K.color_code(risk).alias("color_code")) \
              .orderBy("route_id")


def sql_batch_scores_incremental(pred_date: str = domain.PRED_DATE) -> str:
    """Single-pass full recompute — hash equality against the engine's
    merged per-batch partials IS the IVM correctness proof."""
    risk = S.normalize_risk("sum(influence)")
    return f"""{_base_sql(pred_date)},
classed AS (
  SELECT location_id, a_tidx, a_gdiff,
         CAST(sum(CAST(floor(base * {INC_PICO}) AS HUGEINT)) AS DOUBLE)
           / {INC_PICO} AS base_sum
  FROM sig_base GROUP BY location_id, a_tidx, a_gdiff
),
joined AS (
  SELECT ra.route_id,
         c.base_sum * {_rt_from_idx('ra.r_tidx', 'c.a_tidx')}
                    * {_grade_w_sql('ra.r_gdiff', 'c.a_gdiff')} AS influence
  FROM routes_adj ra JOIN classed c ON ra.location_id = c.location_id
)
SELECT route_id, round({risk}, 6) AS risk_score,
       {S.color_code(risk)} AS color_code
FROM joined GROUP BY route_id ORDER BY route_id"""
