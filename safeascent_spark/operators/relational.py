"""Relational surface: filters, search, joins, pagination, counts (P1).

Re-expresses the reference's list/search endpoints (SURVEY.md §2.2/§2.3
F1-F7, J1, A2, A5, W2) as parameterized DataFrame queries with DuckDB
oracle mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import domain
from .. import kernels as K
from .. import sqlgen as S

_DOMAIN_WITH = (
    "WITH " + ",\n".join(x.strip() for x in (
        domain.ROUTES_CTE, domain.LOCATIONS_CTE, domain.ACCIDENTS_CTE))
)

# Fixed reference point for radius filters (mirrors a /predict request).
# The radius is sized so the filters are non-vacuous on the synthetic domain
# at sf0.01 (4 f1 rows, 34 f7 box rows) — a 0-row result would make the
# Spark-vs-oracle hash compare trivially true.
REF_LAT, REF_LON = 35.0, -115.0
RADIUS_KM = 600.0

# F3 blocklist analog (mp_routes.py:306-309): exclude known-bad route names.
BLOCKLIST = ["Customer#000000013", "Customer#000000666"]


# --- F1: accident multi-predicate filter (accidents.py:68-114) --------------

def q_accident_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-composed optional predicates: severity equality, tags ILIKE,
    date range, spatial radius — the reference's accident search."""
    a = domain.accidents_df(spark, sf_dir)
    dist = K.haversine_km(F.lit(REF_LAT), F.lit(REF_LON), "latitude", "longitude")
    return (a.filter(F.col("severity").isin("fatal", "serious"))
             .filter(F.lower(F.col("tags")).contains("climb"))
             .filter(F.col("accident_date") >= F.lit("2016-01-01"))
             .filter(F.col("accident_date") < F.lit("2024-01-01"))
             .filter(dist <= RADIUS_KM)
             .select("accident_id", "severity", "tags", "accident_date",
                     F.round(dist, 6).alias("distance_km"))
             .orderBy(F.col("accident_date").desc_nulls_last(), "accident_id"))


def sql_accident_filter() -> str:
    dist = S.haversine_km(str(REF_LAT), str(REF_LON), "latitude", "longitude")
    return f"""{_DOMAIN_WITH}
SELECT accident_id, severity, tags, accident_date,
       round({dist}, 6) AS distance_km
FROM accidents
WHERE severity IN ('fatal', 'serious')
  AND lower(tags) LIKE '%climb%'
  AND accident_date >= DATE '2016-01-01'
  AND accident_date < DATE '2024-01-01'
  AND {dist} <= {RADIUS_KM}
ORDER BY accident_date DESC NULLS LAST, accident_id"""


# --- F2/F3: route search with season filter + blocklist ----------------------

def q_route_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name ILIKE + winter-season type filter + blocklist anti-filter + sort.

    Winter season = type contains ice/mixed (mp_routes.py:306-333)."""
    r = domain.routes_df(spark, sf_dir)
    return (r.filter(F.lower(F.col("route_name")).contains("customer"))
             .filter(F.col("route_type").isin("ice", "mixed"))
             .filter(~F.col("route_name").isin(BLOCKLIST))
             .select("route_id", "route_name", "route_type", "grade")
             .orderBy("route_name", "route_id"))


def sql_route_search() -> str:
    bl = ", ".join(f"'{b}'" for b in BLOCKLIST)
    return f"""{_DOMAIN_WITH}
SELECT route_id, route_name, route_type, grade
FROM routes
WHERE lower(route_name) LIKE '%customer%'
  AND route_type IN ('ice', 'mixed')
  AND route_name NOT IN ({bl})
ORDER BY route_name, route_id"""


# --- F3 complement: rock-season filter (NOT ice/mixed, exclude unknown) ------

def q_route_search_rock(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = domain.routes_df(spark, sf_dir)
    return (r.filter(~F.col("route_type").isin("ice", "mixed"))
             .filter(F.col("route_type") != "unknown")
             .groupBy("route_type")
             .agg(F.count(F.lit(1)).alias("n_routes"))
             .orderBy("route_type"))


def sql_route_search_rock() -> str:
    return f"""{_DOMAIN_WITH}
SELECT route_type, count(*) AS n_routes
FROM routes
WHERE route_type NOT IN ('ice', 'mixed') AND route_type <> 'unknown'
GROUP BY route_type ORDER BY route_type"""


# --- J1: coordinate inheritance join (inner + left variants) -----------------

def q_routes_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routes inherit coords from parent location (mp_routes.py:173-208);
    locations is the small side -> broadcast."""
    r = domain.routes_df(spark, sf_dir)
    loc = domain.locations_df(spark, sf_dir)
    return (r.join(F.broadcast(loc), "location_id", "left")
             .select("route_id", "location_id",
                     F.round("latitude", 6).alias("latitude"),
                     F.round("longitude", 6).alias("longitude"),
                     F.round("elevation_m", 6).alias("elevation_m")))


def sql_routes_with_coords() -> str:
    return f"""{_DOMAIN_WITH}
SELECT r.route_id, r.location_id,
       round(l.latitude, 6) AS latitude,
       round(l.longitude, 6) AS longitude,
       round(l.elevation_m, 6) AS elevation_m
FROM routes r LEFT JOIN locations l ON r.location_id = l.location_id"""


# --- A2/W2: pagination via row_number window ---------------------------------

PAGE_SIZE, PAGE_OFFSET = 50, 100


def q_route_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET page with total count (every list endpoint's shape).

    Scale shape: the page is carved with ``orderBy().limit(offset+size)``
    (distributed TakeOrderedAndProject) and ranked only within that bounded
    result; the total is a separate scalar aggregate broadcast back — no
    single-partition window ever sees the full routes table.
    """
    r = domain.routes_df(spark, sf_dir)
    order = [F.col("route_name").asc(), F.col("route_id").asc()]
    total = r.groupBy().agg(F.count(F.lit(1)).alias("total_count"))
    top = (r.select("route_id", "route_name")
            .orderBy(*order).limit(PAGE_OFFSET + PAGE_SIZE))
    # Non-foldable constant partition key over the bounded page (route_id is
    # a non-null key, so the spec can never split on a null): see text.py.
    w = Window.partitionBy(F.col("route_id") % 1).orderBy(*order)
    return (top.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") > PAGE_OFFSET)
               .crossJoin(F.broadcast(total))
               .select("route_id", "route_name",
                       F.col("rn").cast("bigint").alias("rn"),
                       F.col("total_count").cast("bigint").alias("total_count"))
               .orderBy("rn"))


def sql_route_page() -> str:
    return f"""{_DOMAIN_WITH}
SELECT route_id, route_name, CAST(rn AS BIGINT) AS rn,
       CAST(total_count AS BIGINT) AS total_count
FROM (
  SELECT route_id, route_name,
         row_number() OVER (ORDER BY route_name, route_id) AS rn,
         count(*) OVER () AS total_count
  FROM routes
)
WHERE rn > {PAGE_OFFSET} AND rn <= {PAGE_OFFSET + PAGE_SIZE}
ORDER BY rn"""


# --- A5: per-location route counts (locations.py:33-45) ----------------------

def q_location_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = domain.routes_df(spark, sf_dir)
    return (r.groupBy("location_id")
             .agg(F.count(F.lit(1)).alias("route_count"))
             .orderBy(F.col("route_count").desc(), "location_id"))


def sql_location_route_counts() -> str:
    return f"""{_DOMAIN_WITH}
SELECT location_id, count(*) AS route_count
FROM routes GROUP BY location_id
ORDER BY route_count DESC, location_id"""


# --- A9: mode route type per location (safety_computation_optimized.py:800) --

def q_location_mode_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common route type per location; ties broken by type name asc
    (deterministic canonicalization of the reference's max(set, key=count))."""
    r = domain.routes_df(spark, sf_dir)
    counts = r.groupBy("location_id", "route_type").agg(
        F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("location_id").orderBy(
        F.col("n").desc(), F.col("route_type").asc())
    return (counts.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("location_id", F.col("route_type").alias("mode_type"),
                          F.col("n").alias("n_routes"))
                  .orderBy("location_id"))


def sql_location_mode_type() -> str:
    return f"""{_DOMAIN_WITH}
SELECT location_id, route_type AS mode_type, n AS n_routes
FROM (
  SELECT location_id, route_type, count(*) AS n,
         row_number() OVER (PARTITION BY location_id
                            ORDER BY count(*) DESC, route_type ASC) AS rn
  FROM routes GROUP BY location_id, route_type
)
WHERE rn = 1
ORDER BY location_id"""


# --- F4: /predict distance-or-strict-match prefilter (predict.py:132-173) ----

def q_predict_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep accident if within 50km OR route-type weight >= 0.85; count
    survivors per planning type for a fixed query point."""
    a = domain.accidents_df(spark, sf_dir)
    planning = domain.local_frame(
        spark, [(t,) for t in ["alpine", "sport"]], "planning_type string")
    pairs = planning.crossJoin(a)
    dist = K.haversine_km(F.lit(REF_LAT), F.lit(REF_LON), "latitude", "longitude")
    rtw = K.route_type_weight("planning_type", "route_type")
    keep = (dist <= 50.0) | (rtw >= 0.85)
    return (pairs.select("planning_type", "accident_id", keep.alias("keep"))
                 .groupBy("planning_type")
                 .agg(F.count(F.lit(1)).alias("n_total"),
                      F.sum(F.when(F.col("keep"), 1).otherwise(0))
                       .cast("bigint").alias("n_kept"))
                 .orderBy("planning_type"))


def sql_predict_prefilter() -> str:
    dist = S.haversine_km(str(REF_LAT), str(REF_LON), "a.latitude", "a.longitude")
    rtw = S.route_type_weight("p.planning_type", "a.route_type")
    return f"""{_DOMAIN_WITH},
planning AS (SELECT unnest(['alpine', 'sport']) AS planning_type)
SELECT p.planning_type, count(*) AS n_total,
       CAST(sum(CASE WHEN ({dist}) <= 50.0 OR ({rtw}) >= 0.85 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM planning p CROSS JOIN accidents a
GROUP BY p.planning_type
ORDER BY planning_type"""


# --- F7: bounding-box prefilter + exact radius (geo_utils.py:102-139) --------

def q_bbox_radius_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box pre-filter then exact haversine: per accident whether
    the cheap box and the exact circle agree (the corner rows are the
    interesting output — box-hit but circle-miss)."""
    a = domain.accidents_df(spark, sf_dir)
    radius = RADIUS_KM
    box = K.bbox_contains(REF_LAT, REF_LON, radius, "latitude", "longitude")
    dist = K.haversine_km(F.lit(REF_LAT), F.lit(REF_LON), "latitude", "longitude")
    return (a.filter(box)
             .select("accident_id",
                     F.round(dist, 6).alias("distance_km"),
                     (dist <= radius).alias("in_radius"))
             .orderBy("accident_id"))


def sql_bbox_radius_filter() -> str:
    import math
    radius = RADIUS_KM
    dlat = radius / 111.32
    dlon = radius / (111.32 * math.cos(math.radians(REF_LAT)))
    dist = S.haversine_km(str(REF_LAT), str(REF_LON), "latitude", "longitude")
    return f"""{_DOMAIN_WITH}
SELECT accident_id, round({dist}, 6) AS distance_km,
       ({dist}) <= {radius} AS in_radius
FROM accidents
WHERE latitude BETWEEN {REF_LAT - dlat!r} AND {REF_LAT + dlat!r}
  AND longitude BETWEEN {REF_LON - dlon!r} AND {REF_LON + dlon!r}
ORDER BY accident_id"""


# --- J7: fuzzy route-name match (mp_routes.py:876-886) -----------------------

def q_fuzzy_route_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """accident name vs route name: equality or substring containment either
    way, on lowercase.  Accident 'route names' are derived so a fraction
    genuinely matches."""
    r = domain.routes_df(spark, sf_dir).select(
        "route_id", F.lower(F.col("route_name")).alias("rname"))
    a = domain.accidents_df(spark, sf_dir).select(
        "accident_id",
        F.lower(F.concat(F.lit("Customer#"),
                         F.lpad((F.col("accident_id") * 11).cast("string"), 9, "0")))
         .alias("aname"))
    cond = ((F.col("rname") == F.col("aname"))
            | F.col("rname").contains(F.col("aname"))
            | F.col("aname").contains(F.col("rname")))
    return (r.crossJoin(F.broadcast(a)).filter(cond)
             .select("route_id", "accident_id")
             .orderBy("route_id", "accident_id"))


def sql_fuzzy_route_match() -> str:
    return f"""{_DOMAIN_WITH},
acc_names AS (
  SELECT accident_id,
         lower('Customer#' || lpad(CAST(accident_id * 11 AS VARCHAR), 9, '0'))
           AS aname
  FROM accidents
),
route_names AS (
  SELECT route_id, lower(route_name) AS rname FROM routes
)
SELECT r.route_id, a.accident_id
FROM route_names r CROSS JOIN acc_names a
WHERE r.rname = a.aname
   OR r.rname LIKE '%' || a.aname || '%'
   OR a.aname LIKE '%' || r.rname || '%'
ORDER BY route_id, accident_id"""


# --- J5: location breadcrumb hierarchy (mp_routes.py:49-106) -----------------

def breadcrumb_base_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic parent hierarchy: parent(l) = l // 10, root 0 has NULL."""
    loc = domain.locations_df(spark, sf_dir).select("location_id")
    return loc.withColumn(
        "parent_id",
        F.when(F.col("location_id") == 0, F.lit(None).cast("bigint"))
         .otherwise((F.col("location_id") / 10).cast("bigint")))


# A breadcrumb reaches the root within this many parent hops or is
# dropped, as in the oracle.
BREADCRUMB_MAX_HOPS = 15


def location_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parent-chain walk every hierarchy query reads: one engine-side
    ``WITH RECURSIVE`` fixpoint over the (location_id, parent_id) frame.

    Rows are (location_id, current, path, depth): ``path`` runs from the
    last ancestor reached down to the location, ``current`` is that
    ancestor's parent (NULL once the root is reached) and ``depth`` the
    number of ids on the path.  The walk stops where the chain ends, so
    it is unbounded; Spark's recursion-level limit turns a cyclic parent
    table into an error rather than an endless loop."""
    return spark.sql("""
WITH RECURSIVE walk(location_id, current, path, depth) AS (
  SELECT location_id, parent_id, CAST(location_id AS STRING), 1 FROM {h}
  UNION ALL
  SELECT w.location_id, h.parent_id,
         CAST(w.current AS STRING) || ' > ' || w.path, w.depth + 1
  FROM walk w JOIN {h} h ON w.current = h.location_id
)
SELECT * FROM walk""", h=breadcrumb_base_df(spark, sf_dir))


def q_location_breadcrumb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: the root-to-location path of every location whose chain
    reaches the root within BREADCRUMB_MAX_HOPS hops."""
    return (location_walk(spark, sf_dir)
            .where(F.col("current").isNull()
                   & (F.col("depth") <= BREADCRUMB_MAX_HOPS + 1))
            .select("location_id", "path", "depth")
            .orderBy("location_id"))


def sql_location_breadcrumb() -> str:
    return f"""{_DOMAIN_WITH},
hier AS (
  SELECT location_id,
         CASE WHEN location_id = 0 THEN NULL
              ELSE CAST(location_id // 10 AS BIGINT) END AS parent_id
  FROM locations
),
crumbs AS (
  WITH RECURSIVE walk(location_id, current, path, depth) AS (
    SELECT location_id, parent_id, CAST(location_id AS VARCHAR), 1 FROM hier
    UNION ALL
    SELECT w.location_id, h.parent_id,
           CAST(w.current AS VARCHAR) || ' > ' || w.path, w.depth + 1
    FROM walk w JOIN hier h ON w.current = h.location_id
    WHERE w.current IS NOT NULL AND w.depth <= {BREADCRUMB_MAX_HOPS}
  )
  SELECT location_id, path, depth FROM walk WHERE current IS NULL
)
SELECT location_id, path, CAST(depth AS INT) AS depth
FROM crumbs ORDER BY location_id"""


# --- F8: polygon containment (integer-exact ray casting) ---------------------
# The geofencing primitive Spark lacks: which accidents fall inside an
# arbitrary (non-convex-capable) polygon boundary.  Coordinates quantize
# once to integer micro-degrees (floor(x * 1e6) — floor of the same
# double is deterministic in both engines), after which the even-odd
# crossing test is pure BIGINT arithmetic: edge (p1, p2) crosses the
# rightward ray from the point iff the edge spans the point's latitude
# half-open ([y1, y2) upward or [y2, y1) downward) AND the point sits
# strictly on the interior side of the edge line — the sign of the cross
# product, no division anywhere.  Inside = odd crossing count.
#
# Scale shape: a pure per-row Column fold over the fixed vertex list —
# one codegen'd projection + filter, no joins, no shuffle beyond the
# final sort.  The polygon is a broadcast-free literal.

# A pentagon over the accident domain's western region (micro-degrees).
POLYGON_UDEG = [
    (30_000_000, -124_000_000),
    (43_000_000, -121_500_000),
    (41_000_000, -112_000_000),
    (33_500_000, -109_000_000),
    (27_000_000, -117_000_000),
]


def _poly_crossings(yp, xp):
    """Column: number of polygon edges crossed by the rightward ray."""
    terms = None
    n = len(POLYGON_UDEG)
    for i in range(n):
        y1, x1 = POLYGON_UDEG[i]
        y2, x2 = POLYGON_UDEG[(i + 1) % n]
        # cross = (x2-x1)*(yp-y1) - (y2-y1)*(xp-x1); for an upward edge
        # the point is left of the edge iff cross > 0, downward iff < 0
        cross = (F.lit(x2 - x1) * (yp - F.lit(y1))
                 - F.lit(y2 - y1) * (xp - F.lit(x1)))
        up = (F.lit(y1) <= yp) & (yp < F.lit(y2)) & (cross > 0)
        down = (F.lit(y2) <= yp) & (yp < F.lit(y1)) & (cross < 0)
        t = F.when(up | down, 1).otherwise(0)
        terms = t if terms is None else terms + t
    return terms


def q_polygon_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = domain.accidents_df(spark, sf_dir)
    yp = F.floor(F.col("latitude") * 1000000).cast("bigint")
    xp = F.floor(F.col("longitude") * 1000000).cast("bigint")
    inside = (_poly_crossings(yp, xp) % 2) == 1
    return (a.select("accident_id", "latitude", "longitude",
                     inside.alias("inside"))
             .filter(F.col("inside"))
             .select("accident_id",
                     F.round("latitude", 6).alias("latitude"),
                     F.round("longitude", 6).alias("longitude"))
             .orderBy("accident_id"))


def sql_polygon_filter() -> str:
    n = len(POLYGON_UDEG)
    terms = []
    for i in range(n):
        y1, x1 = POLYGON_UDEG[i]
        y2, x2 = POLYGON_UDEG[(i + 1) % n]
        cross = (f"({x2 - x1} * (yp - {y1}) - {y2 - y1} * (xp - {x1}))")
        up = f"({y1} <= yp AND yp < {y2} AND {cross} > 0)"
        down = f"({y2} <= yp AND yp < {y1} AND {cross} < 0)"
        terms.append(f"CASE WHEN {up} OR {down} THEN 1 ELSE 0 END")
    total = " + ".join(terms)
    return f"""{_DOMAIN_WITH},
pts AS (
  SELECT accident_id, latitude, longitude,
         CAST(floor(latitude * 1000000) AS BIGINT) AS yp,
         CAST(floor(longitude * 1000000) AS BIGINT) AS xp
  FROM accidents
)
SELECT accident_id, round(latitude, 6) AS latitude,
       round(longitude, 6) AS longitude
FROM pts
WHERE ({total}) % 2 = 1
ORDER BY accident_id"""


# --- Record linkage: blocked fuzzy entity resolution -------------------------
# The production form of the reference's same-route fuzzy match
# (mp_routes.py:876-886, J7): link NOISY LISTINGS back to the canonical
# route master via blocking + edit distance + best-match assignment —
# never an all-pairs compare.  Listings are derived deterministically
# from the master (four reproducible corruption modes: lowercasing,
# '#'->' ', trailing whitespace, dropped first char), so both engines
# generate the identical input and the whole operator stays oracle-exact.
#
# * Blocking key: last 4 digits of the name's digit string — all of an
#   entity's variants share it, and once the corpus passes 10k entities
#   DIFFERENT entities collide (custkey k and k+10000 share a block), so
#   the in-block Levenshtein genuinely disambiguates: a variant is
#   distance 1 from its own master but >= 2 from any same-block
#   impostor (verified at sf0.1+ where collisions exist).
# * Assignment: per listing, argmin (edit distance, route_id) over block
#   candidates within MAX_EDIT — one row_number window per listing;
#   the Levenshtein runs in its BOUNDED-distance form (threshold
#   ER_MAX_EDIT), an O(d x len) band instead of O(len^2) per pair.
#
# Scale shape: in-block pair count is |listings| x block-occupancy.
# BLOCK-KEY CARDINALITY MUST GROW WITH THE CORPUS or occupancy grows
# linearly and pairs quadratically — exactly what the first cut of this
# operator got wrong (a fixed 1000-block key measured 25x cost at 10x
# data; the 10k-block key brought the 10x ratio back to ~2x, see
# BENCH_sf1.json round5_wave6_curves).  Production ER sizes the key (or
# composes several) so occupancy stays bounded; the sf1 scaling row is
# the regression guard here.

ER_MAX_EDIT = 2


def _er_digits(col):
    return F.regexp_replace(col, "[^0-9]", "")


def _er_key_len(n_masters: int) -> int:
    """Adaptive block-key length: enough digit-suffix characters that
    10^k >= n/10, i.e. expected occupancy <= ~10 masters per block.  A
    FIXED key length makes occupancy (and the in-block pair count) grow
    linearly with the corpus — the quadratic trap this operator's first
    two cuts measured at sf1 (25x then 12x cost at 10x data; adaptive
    keys bring it to ~linear).  Same formula inline in the oracle SQL."""
    return max(3, len(str(max(n_masters, 1))) - 1)


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    routes = domain.routes_df(spark, sf_dir)
    # Master names derive from route_id (not c_name): the sf1 stress set
    # key-shifts ids but keeps name strings, so c_name-based masters
    # would duplicate 10x there and measure a fake quadratic.  The id-
    # derived name keeps one unique master per entity at every scale.
    master = routes.select(
        "route_id",
        F.format_string("Route#%09d", F.col("route_id"))
         .alias("route_name"))
    klen = _er_key_len(master.count())  # 1 count on the dim, driver scalar
    # deterministic noisy listings: 4 variants per route, listing_id
    # encodes (route_id, variant) so truth is checkable
    v = master.select(
        "route_id", "route_name",
        F.explode(F.array(
            F.struct(F.lit(0).alias("variant"),
                     F.lower("route_name").alias("lname")),
            F.struct(F.lit(1).alias("variant"),
                     F.regexp_replace("route_name", "#", " ").alias("lname")),
            F.struct(F.lit(2).alias("variant"),
                     F.concat(F.col("route_name"), F.lit(" ")).alias("lname")),
            F.struct(F.lit(3).alias("variant"),
                     F.substring(F.col("route_name"), 2, 100).alias("lname")),
        )).alias("x"))
    listings = v.select(
        (F.col("route_id") * 4 + F.col("x.variant")).alias("listing_id"),
        F.col("x.lname").alias("listing_name"),
        _er_digits(F.col("x.lname")).substr(F.lit(-klen), F.lit(klen))
         .alias("block"))
    m = master.select(F.col("route_id").alias("cand_id"),
                      F.col("route_name").alias("cand_name"),
                      _er_digits(F.col("route_name"))
                      .substr(F.lit(-klen), F.lit(klen)).alias("block"))
    pairs = (listings.join(m, "block")
                     .withColumn("dist",
                                 F.levenshtein("listing_name", "cand_name",
                                               ER_MAX_EDIT))
                     .filter((F.col("dist") >= 0)
                             & (F.col("dist") <= ER_MAX_EDIT)))
    w = Window.partitionBy("listing_id").orderBy("dist", "cand_id")
    return (pairs.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1)
                 .select("listing_id", "listing_name",
                         F.col("cand_id").alias("matched_route_id"),
                         F.col("dist").cast("int").alias("edit_distance"))
                 .orderBy("listing_id"))


def sql_entity_resolution() -> str:
    return f"""{_DOMAIN_WITH},
master AS (
  SELECT route_id,
         'Route#' || lpad(CAST(route_id AS VARCHAR), 9, '0') AS route_name
  FROM routes
),
-- adaptive block-key length: 10^k blocks >= n/10 (see _er_key_len)
klen AS (
  SELECT greatest(3, length(CAST(count(*) AS VARCHAR)) - 1) AS k
  FROM master
),
listings AS (
  SELECT route_id * 4 + variant AS listing_id, lname AS listing_name,
         right(regexp_replace(lname, '[^0-9]', '', 'g'),
               (SELECT k FROM klen)) AS block
  FROM (
    SELECT route_id, 0 AS variant, lower(route_name) AS lname FROM master
    UNION ALL
    SELECT route_id, 1, replace(route_name, '#', ' ') FROM master
    UNION ALL
    SELECT route_id, 2, route_name || ' ' FROM master
    UNION ALL
    SELECT route_id, 3, substring(route_name, 2) FROM master
  )
),
cands AS (
  SELECT route_id AS cand_id, route_name AS cand_name,
         right(regexp_replace(route_name, '[^0-9]', '', 'g'),
               (SELECT k FROM klen)) AS block
  FROM master
),
pairs AS (
  SELECT l.listing_id, l.listing_name, c.cand_id,
         levenshtein(l.listing_name, c.cand_name) AS dist
  FROM listings l JOIN cands c USING (block)
  WHERE levenshtein(l.listing_name, c.cand_name) <= {ER_MAX_EDIT}
)
SELECT listing_id, listing_name, cand_id AS matched_route_id,
       CAST(dist AS INT) AS edit_distance
FROM (SELECT *, row_number() OVER (PARTITION BY listing_id
                                   ORDER BY dist, cand_id) AS rn
      FROM pairs)
WHERE rn = 1
ORDER BY listing_id"""


# --- Data-quality assertion report ------------------------------------------
# Every production pipeline fronts its tables with constraint checks
# (dbt tests / Deequ / Delta constraints).  This operator runs the
# engine's assertion suite as ONE query: primary-key uniqueness,
# referential integrity (anti-join counts), domain ranges, schema
# invariants, and freshness — each a (check, n_violations, pass) row.
#
# Scale shape: each check is a single aggregate or a left-join null
# count over its table (referential checks build the key dim once);
# the union is |checks| rows.  Nothing collects driver-side — the
# report itself is the query result.

_DQ_TS_LO = "2024-01-01"
_DQ_TS_HI = "2025-01-01"
_DQ_EMB_DIM = 64


def q_dq_assertions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = domain.load_table(spark, sf_dir, "customer")
    o = domain.load_table(spark, sf_dir, "orders")
    li = domain.load_table(spark, sf_dir, "lineitem")
    e = domain.load_table(spark, sf_dir, "events")
    d = domain.load_table(spark, sf_dir, "documents")
    emb = domain.load_table(spark, sf_dir, "embeddings")

    def report(name: str, viol_df: DataFrame) -> DataFrame:
        return viol_df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
            (F.col("n") == 0).alias("passed"))

    pk = c.agg((F.count(F.lit(1))
                - F.count_distinct("c_custkey")).alias("n"))
    fk_oc = (o.join(c.select("c_custkey"),
                    F.col("o_custkey") == F.col("c_custkey"), "left")
              .agg(F.sum(F.when(F.col("c_custkey").isNull(), 1)
                          .otherwise(0)).alias("n")))
    fk_lo = (li.select("l_orderkey").distinct()
               .join(o.select("o_orderkey"),
                     F.col("l_orderkey") == F.col("o_orderkey"), "left")
               .agg(F.sum(F.when(F.col("o_orderkey").isNull(), 1)
                           .otherwise(0)).alias("n")))
    val = e.agg(F.sum(F.when(F.col("value").isNull()
                             | (F.col("value") < 0), 1)
                       .otherwise(0)).alias("n"))
    lo_ns = F.lit(1704067200000000000)  # 2024-01-01 UTC in ns
    hi_ns = F.lit(1735689600000000000)  # 2025-01-01 UTC in ns
    fresh = e.agg(F.sum(F.when((F.col("ts") < lo_ns)
                               | (F.col("ts") >= hi_ns), 1)
                         .otherwise(0)).alias("n"))
    docs = d.agg(F.sum(F.when(F.col("text").isNull()
                              | (F.length("text") != F.col("n_chars")), 1)
                        .otherwise(0)).alias("n"))
    dim = emb.agg(F.sum(F.when(F.size("embedding") != _DQ_EMB_DIM, 1)
                         .otherwise(0)).alias("n"))
    out = (report("customer_pk_unique", pk)
           .unionByName(report("orders_fk_customer", fk_oc))
           .unionByName(report("lineitem_fk_orders", fk_lo))
           .unionByName(report("events_value_nonnegative", val))
           .unionByName(report("events_ts_fresh_2024", fresh))
           .unionByName(report("documents_nchars_consistent", docs))
           .unionByName(report("embeddings_dim_64", dim)))
    return out.orderBy("check_name")


def sql_dq_assertions() -> str:
    return f"""
WITH checks AS (
  SELECT 'customer_pk_unique' AS check_name,
         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS n_violations
  FROM customer
  UNION ALL
  SELECT 'orders_fk_customer',
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem_fk_orders',
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'events_value_nonnegative',
         CAST(sum(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events_ts_fresh_2024',
         CAST(sum(CASE WHEN epoch_ns(ts) < 1704067200000000000
                         OR epoch_ns(ts) >= 1735689600000000000
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'documents_nchars_consistent',
         CAST(sum(CASE WHEN text IS NULL OR length(text) <> n_chars
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'embeddings_dim_64',
         CAST(sum(CASE WHEN len(embedding) <> {_DQ_EMB_DIM}
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM embeddings
)
SELECT check_name, n_violations, n_violations = 0 AS passed
FROM checks ORDER BY check_name"""


# --- Hierarchical subtree rollup (aggregate over the location tree) ----------
# The OLAP companion of the J5 breadcrumb: per location, route counts
# and popularity summed over the location's ENTIRE SUBTREE.  The
# scalable layout is flatten-then-aggregate: the (node, ancestor)
# transitive closure of the hierarchy, read from the same recursive walk
# as the breadcrumb (never recursion over facts), then one equi-join
# from the route-grain aggregate onto the closure and one
# groupBy(ancestor).  Facts are touched exactly once; the recursion only
# ever walks the small dimension.

def _location_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(location_id, ancestor_id) pairs including self-pairs: the
    location, then every ancestor the walk reached."""
    anc = F.when(F.col("depth") == 1, F.array("location_id", "current")) \
           .otherwise(F.array("current"))
    return (location_walk(spark, sf_dir)
            .select("location_id", F.explode(anc).alias("ancestor_id"))
            .where(F.col("ancestor_id").isNotNull()))


def q_location_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    routes = domain.routes_df(spark, sf_dir)
    direct = (routes.groupBy("location_id")
                    .agg(F.count(F.lit(1)).cast("bigint").alias("n_direct"),
                         F.sum(F.expr(
                             "CAST(round(popularity * 100) AS BIGINT)"))
                          .alias("pop_cents")))
    closure = _location_closure(spark, sf_dir)
    subtree = (direct.join(closure, "location_id")
                     .groupBy(F.col("ancestor_id").alias("location_id"))
                     .agg(F.sum("n_direct").cast("bigint")
                           .alias("n_routes_subtree"),
                          F.sum("pop_cents").cast("bigint")
                           .alias("pop_cents_subtree")))
    return (subtree.join(direct.select(
                "location_id", F.col("n_direct").alias("n_routes_direct")),
                "location_id", "left")
                   .select("location_id",
                           F.coalesce("n_routes_direct",
                                      F.lit(0).cast("bigint"))
                            .alias("n_routes_direct"),
                           "n_routes_subtree", "pop_cents_subtree")
                   .orderBy("location_id"))


def sql_location_subtree_rollup() -> str:
    return f"""{_DOMAIN_WITH},
hier AS (
  SELECT location_id,
         CASE WHEN location_id = 0 THEN NULL
              ELSE location_id // 10 END AS parent_id
  FROM locations
),
closure AS (
  WITH RECURSIVE walk(location_id, ancestor_id) AS (
    SELECT location_id, location_id FROM hier
    UNION
    SELECT w.location_id, h.parent_id
    FROM walk w JOIN hier h ON w.ancestor_id = h.location_id
    WHERE h.parent_id IS NOT NULL
  )
  SELECT location_id, ancestor_id FROM walk
),
direct AS (
  SELECT location_id,
         CAST(count(*) AS BIGINT) AS n_direct,
         CAST(sum(CAST(round(popularity * 100) AS BIGINT)) AS BIGINT)
           AS pop_cents
  FROM routes GROUP BY location_id
),
subtree AS (
  SELECT c.ancestor_id AS location_id,
         CAST(sum(d.n_direct) AS BIGINT) AS n_routes_subtree,
         CAST(sum(d.pop_cents) AS BIGINT) AS pop_cents_subtree
  FROM direct d JOIN closure c USING (location_id)
  GROUP BY c.ancestor_id
)
SELECT s.location_id,
       coalesce(d.n_direct, 0) AS n_routes_direct,
       s.n_routes_subtree, s.pop_cents_subtree
FROM subtree s LEFT JOIN direct d USING (location_id)
ORDER BY s.location_id"""


# --- Grid-bounded spatial k-nearest-neighbors (round 7) --------------------------
# The /predict endpoint's "nearest accidents to this route" view
# (reference mp_routes.py radius search) as a distributed exact kNN
# under the production 300 km cap.
#
# Scale shape — two-phase grid escalation.  A single 300 km grid join
# is candidate-complete but its per-cell candidate count grows with
# density SQUARED (the r7 sf-curve measured 48x wall-clock at 10x data
# — this operator's own entity_resolution moment).  kNN only needs the
# K nearest, so phase 1 runs the identical 3x3 join on a FINE grid
# sized for GEO_KNN_FINE_KM: a route whose K-th nearest fine candidate
# lies within GEO_KNN_FINE_KM is provably final (every point within
# that radius is inside the fine 3x3 ring by the _grid_cell_deg sizing
# proof, so no unseen candidate can beat the K-th).  Only the routes
# the fine pass cannot certify — sparse-region routes, a vanishing
# share as density grows — fall back to the coarse 300 km grid.  The
# quadratic leg therefore carries O(uncertified routes) instead of the
# corpus, and the fine leg's per-cell occupancy is (300/30)^2 = 100x
# smaller.  Measured: 48.6x -> 1.01x wall-clock at 10x data, output
# hash-identical (the oracle keeps the one-grid formulation — the
# decomposition is a physical plan choice, not a semantic one).
#
# Distance is the haversine rounded once; the top-K per route is a
# per-ROUTE window — corpus-cardinality partition key, millions of
# independent K-row sorts, never a global one.

GEO_KNN_K = 5
GEO_KNN_FINE_KM = 30.0


def _knn_grid_leg(routes: DataFrame, accidents: DataFrame,
                  cell_deg: float, cap_km: float) -> DataFrame:
    """(route_id, accident_id, distance_km) candidates within cap_km,
    via the 3x3 neighborhood of a cell grid sized for cap_km."""
    cell = F.lit(cell_deg)
    r = routes.select(
        "route_id", "r_lat", "r_lon",
        F.floor(F.col("r_lat") / cell).cast("int").alias("cx"),
        F.floor(F.col("r_lon") / cell).cast("int").alias("cy"))
    offs = F.expr("explode(transform(sequence(0, 8),"
                  " i -> struct(i div 3 - 1 AS dx, i % 3 - 1 AS dy)))")
    a = (accidents.select("*", offs.alias("o"))
         .select("accident_id", "a_lat", "a_lon",
                 (F.floor(F.col("a_lat") / cell).cast("int")
                  + F.col("o.dx")).alias("cx"),
                 (F.floor(F.col("a_lon") / cell).cast("int")
                  + F.col("o.dy")).alias("cy")))
    d = K.haversine_km("r_lat", "r_lon", "a_lat", "a_lon")
    # r12 (guide §2.3): d >= R*|dlat| exactly, so a latitude gap beyond
    # cap_km already fails the d <= cap filter — one abs/multiply prunes
    # the 3x3 cell surplus before the haversine's trig runs.  110 km/deg
    # (vs the true 111.195) leaves ~1% slack so IEEE rounding of the
    # engine-side haversine can never mis-prune a borderline candidate.
    lat_ok = (F.abs(F.col("r_lat") - F.col("a_lat"))
              <= F.lit(cap_km / 110.0))
    return (r.join(a, ["cx", "cy"])
             .filter(lat_ok & (d <= F.lit(cap_km)))
             .select("route_id", "accident_id",
                     F.round(d, 6).alias("distance_km")))


def _knn_topk(cand: DataFrame) -> DataFrame:
    w = Window.partitionBy("route_id").orderBy("distance_km",
                                               "accident_id")
    return (cand.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= GEO_KNN_K))


def _geo_knn_routes_acc(spark: SparkSession, sf_dir: str):
    routes = (domain.routes_df(spark, sf_dir)
              .join(F.broadcast(domain.locations_df(spark, sf_dir)),
                    "location_id")
              .select("route_id", F.col("latitude").alias("r_lat"),
                      F.col("longitude").alias("r_lon")))
    acc = domain.accidents_df(spark, sf_dir).select(
        "accident_id", F.col("latitude").alias("a_lat"),
        F.col("longitude").alias("a_lon"))
    return routes, acc


@domain.checkpointed("geo_knn_fine_done", scope="invocation")
def _geo_knn_fine_done(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified fine-leg pipeline.

    phase 1: fine grid; a route is CERTIFIED when it has K fine
    candidates and the K-th one's ROUNDED distance sits strictly
    below the fine radius minus the rounding grain (29.999999) —
    then no candidate outside the fine ring (unrounded d > 30, so
    rounded >= 29.9999995) can displace or even tie any of the K.

    r12: the certification predicate is an aggregate over the SAME
    route_id partitioning the rank window just established, so compute
    it as a second window on the rank-filtered rows instead of a
    groupBy + join-back — the join form re-derived the entire fine-leg
    subtree twice and paid a SortMergeJoin to reconcile the copies;
    the window form is zero extra Exchanges (partitionBy route_id is
    satisfied by the rank window's partitioning, and the rows are
    already sorted by the route_id prefix).  Aggregating after the
    rnk <= K filter is identical to the old groupBy over `fine`, which
    was also post-filter."""
    from .scoring import _grid_cell_deg
    fine_deg = round(_grid_cell_deg(GEO_KNN_FINE_KM) + 0.005, 2)
    routes, acc = _geo_knn_routes_acc(spark, sf_dir)
    fine = _knn_topk(_knn_grid_leg(routes, acc, fine_deg,
                                   GEO_KNN_FINE_KM))
    wcert = Window.partitionBy("route_id")
    return (fine.withColumn("k_found", F.count(F.lit(1)).over(wcert))
                .withColumn("kth_d", F.max("distance_km").over(wcert))
                .filter((F.col("k_found") >= GEO_KNN_K)
                        & (F.col("kth_d") <= GEO_KNN_FINE_KM - 1e-6))
                .drop("k_found", "kth_d"))


def q_geo_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scoring import GRID_CELL_DEG
    from .. import config as _C
    cap = _C.MAX_SEARCH_RADIUS_KM
    routes, acc = _geo_knn_routes_acc(spark, sf_dir)
    # r12 (guide §3.3): `done` feeds both the result union and the
    # certified-route anti-join key set; without materialization the
    # whole fine grid join + rank window ran twice.  The frame is K rows
    # per certified route (thin ids + one double), so the checkpoint is
    # small at any corpus size.
    done = _geo_knn_fine_done(spark, sf_dir)
    certified = done.select("route_id").distinct()
    # phase 2: only uncertified routes ride the coarse 300 km grid
    rest = routes.join(certified, "route_id", "left_anti")
    coarse = _knn_topk(_knn_grid_leg(rest, acc, GRID_CELL_DEG, cap))
    return (done.unionByName(coarse)
                .select("route_id", F.col("rnk").cast("int").alias("rnk"),
                        "accident_id", "distance_km")
                .orderBy("route_id", "rnk"))


def sql_geo_knn_grid() -> str:
    from .scoring import GRID_CELL_DEG
    from .. import config as _C
    cell = GRID_CELL_DEG
    cap = _C.MAX_SEARCH_RADIUS_KM
    hav = S.haversine_km("r.r_lat", "r.r_lon", "a.a_lat", "a.a_lon")
    return f"""{_DOMAIN_WITH},
rts AS (
  SELECT r.route_id, l.latitude AS r_lat, l.longitude AS r_lon,
         CAST(floor(l.latitude / {cell}) AS INT) AS cx,
         CAST(floor(l.longitude / {cell}) AS INT) AS cy
  FROM routes r JOIN locations l USING (location_id)
),
acc9 AS (
  SELECT accident_id, latitude AS a_lat, longitude AS a_lon,
         CAST(floor(latitude / {cell}) AS INT) + dx.dx AS cx,
         CAST(floor(longitude / {cell}) AS INT) + dy.dy AS cy
  FROM accidents,
       (VALUES (-1), (0), (1)) dx(dx), (VALUES (-1), (0), (1)) dy(dy)
),
cand AS (
  SELECT r.route_id, a.accident_id, round({hav}, 6) AS distance_km
  FROM rts r JOIN acc9 a USING (cx, cy)
  WHERE {hav} <= {cap}
),
ranked AS (
  SELECT route_id, accident_id, distance_km,
         row_number() OVER (PARTITION BY route_id
                            ORDER BY distance_km, accident_id) AS rnk
  FROM cand
)
SELECT route_id, CAST(rnk AS INT) AS rnk, accident_id, distance_km
FROM ranked
WHERE rnk <= {GEO_KNN_K}
ORDER BY route_id, rnk"""
