"""Scalar kernels K1-K23 as native PySpark ``Column`` expressions.

Every kernel in the reference's scoring engine is a pure function of row
values (SURVEY.md §2.7), so each maps to a JVM-side Column expression that
stays inside whole-stage codegen — no Python UDFs in the hot path.

Reference parity citations are given per function (file:line into
``/root/reference/``).  The DuckDB-oracle mirror of each kernel lives in
``safeascent_spark.sqlgen``; keep the two in sync.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import config as C

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# r13 (ADVICE r12): the F.expr fast paths interpolate column names and
# config-table keys/values into raw SQL text.  They are only byte-identical
# to the F.col/F.lit when-chain when the column name is a plain unqualified
# identifier (a qualified/quoted name would resolve differently), every key
# is a plain string (quotes would break the literal), and every value is a
# finite float (an int would parse as a D-suffixed double vs F.lit's
# IntegerType; inf/nan would render as `infD`/`nanD`, an unresolved column).
# Guard the fast path on exactly those shapes — constant-table-only, never
# data-derived keys — and fall back to the expression-builder path otherwise.
_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _finite_float(v: object) -> bool:
    return isinstance(v, float) and math.isfinite(v)


def _expr_fast_ok(col_name: object, mapping_items) -> bool:
    if not (isinstance(col_name, str) and _PLAIN_IDENT.match(col_name)):
        return False
    return all(isinstance(k, str) and "'" not in k and "\\" not in k
               and _finite_float(v)
               for k, v in mapping_items)


def map_literal(mapping: dict[str, float], key: ColumnOrName,
                default: float) -> Column:
    """Small-dict lookup as a chained ``when`` expression (codegen-friendly).

    Used for the per-route-type constant tables (bandwidth, lambda, decay).
    r12: for plain column-name keys the chain is built as one ``F.expr``
    parse (identical CaseWhen tree, ``D``-suffixed double literals ==
    F.lit doubles) instead of ~5 py4j round-trips per entry — these
    kernels sit in almost every scoring/relational builder, so the saved
    driver latency compounds (guide §1.2).
    """
    items = [(k, v) for k, v in mapping.items() if k != "default"]
    dflt = mapping.get("default", default)
    if isinstance(key, str) and _expr_fast_ok(key, items) \
            and _finite_float(dflt):
        arms = " ".join(f"WHEN lower({key}) = '{k}' THEN {v!r}D"
                        for k, v in items)
        return F.expr(f"CASE {arms} ELSE {dflt!r}D END")
    key = F.lower(_col(key))
    expr: Column | None = None
    for k, v in mapping.items():
        if k == "default":
            continue
        cond = key == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    assert expr is not None
    return expr.otherwise(F.lit(mapping.get("default", default)))


# --- K1: Haversine distance (geo_utils.py:12-52) ---------------------------

def haversine_km(lat1: ColumnOrName, lon1: ColumnOrName,
                 lat2: ColumnOrName, lon2: ColumnOrName) -> Column:
    """Great-circle distance in km. Reference: backend/app/utils/geo_utils.py:12-52.

    Delta angles are computed as differences of per-point radians (not
    radians of the degree difference) so that the per-side precomputed form
    in haversine_from_parts() is bit-identical.
    """
    return haversine_from_parts(
        F.radians(_col(lat1)), F.radians(_col(lon1)), F.cos(F.radians(_col(lat1))),
        F.radians(_col(lat2)), F.radians(_col(lon2)), F.cos(F.radians(_col(lat2))))


def haversine_from_parts(rlat1: Column, rlon1: Column, coslat1: Column,
                         rlat2: Column, rlon2: Column, coslat2: Column) -> Column:
    """Haversine from precomputed radians/cosines (cross-join fast path)."""
    dlat = rlat2 - rlat1
    dlon = rlon2 - rlon1
    # sin^2 as s*s, not pow(s, 2): an IEEE multiply is exact-deterministic
    # across JVM and DuckDB libm (pow is only ~1-ulp) and cheaper per pair;
    # codegen CSE evaluates each sin once.  sqlgen.haversine_km mirrors this.
    s_lat = F.sin(dlat / 2)
    s_lon = F.sin(dlon / 2)
    a = (s_lat * s_lat + coslat1 * coslat2 * (s_lon * s_lon))
    return F.lit(2.0 * C.EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


# --- K2: Gaussian spatial weight (spatial_weighting.py:19-63) ---------------

def spatial_bandwidth(route_type: ColumnOrName) -> Column:
    return map_literal(C.SPATIAL_BANDWIDTH_KM, route_type,
                       C.SPATIAL_BANDWIDTH_KM["default"])


def spatial_weight(distance_km: ColumnOrName, route_type: ColumnOrName) -> Column:
    """exp(-d^2 / (2 h^2)) with per-route-type bandwidth h.

    Reference: backend/app/services/spatial_weighting.py:19-63.
    """
    h = spatial_bandwidth(route_type)
    d = _col(distance_km)
    return F.exp(-(d * d) / (F.lit(2.0) * h * h))


# --- K3/K4: temporal weight + season (temporal_weighting.py:24-79) ----------

def season_of(date_col: ColumnOrName) -> Column:
    """Month-bucket season. Reference: backend/app/utils/time_utils.py:12-56."""
    m = F.month(_col(date_col))
    return (F.when(m.isin(12, 1, 2), F.lit("winter"))
             .when(m.isin(3, 4, 5), F.lit("spring"))
             .when(m.isin(6, 7, 8), F.lit("summer"))
             .otherwise(F.lit("fall")))


def temporal_lambda(route_type: ColumnOrName) -> Column:
    return map_literal(C.TEMPORAL_LAMBDA, route_type, C.TEMPORAL_LAMBDA["default"])


def temporal_weight(current_date: ColumnOrName, accident_date: ColumnOrName,
                    route_type: ColumnOrName) -> Column:
    """Damped exponential decay with mild same-season boost.

    base = lambda^days; w = 1 - 0.35*(1 - base^1.5); *1.05 if same season.
    Reference: backend/app/services/temporal_weighting.py:24-79 (days are
    abs() per time_utils.py:days_between).
    """
    days = F.abs(F.datediff(_col(current_date), _col(accident_date)))
    lam = temporal_lambda(route_type)
    base_decay = F.pow(lam, days.cast("double"))
    base_weight = (F.lit(1.0)
                   - F.lit(C.TEMPORAL_DECAY_IMPACT)
                   * (F.lit(1.0) - F.pow(base_decay, F.lit(C.TEMPORAL_DECAY_SHAPE))))
    same_season = season_of(current_date) == season_of(accident_date)
    return base_weight * F.when(same_season, F.lit(C.SEASONAL_MULTIPLIER)) \
                          .otherwise(F.lit(1.0))


# --- K10: route-type matrix weight (route_type_weighting.py:17-58) ----------

def route_type_weight(planning_type: ColumnOrName,
                      accident_type: ColumnOrName) -> Column:
    """Asymmetric 7x7 matrix lookup, default 0.5.

    Inlined as a nested when-chain keyed on the planning type; the 49-entry
    matrix lives in config.ROUTE_TYPE_WEIGHTS (algorithm_config.py:89-155).
    For very wide plans prefer the broadcast-join form in
    operators/scoring.py (route_type_matrix_df).

    r12 (guide §1.2 per-task vs driver work): when both inputs are plain
    column names the 49-arm chain is built as ONE ``F.expr`` parse instead
    of ~3,000 py4j when/lit/eq round-trips — the chain was half the
    driver-side build latency of every scoring query.  The parsed CASE is
    the identical CaseWhen tree (same branch order, And(EqualTo, EqualTo)
    conditions, ``D``-suffixed double literals == F.lit doubles), so plans
    and results are bit-identical; Column inputs keep the original path.
    """
    if isinstance(planning_type, str) and isinstance(accident_type, str) \
            and _expr_fast_ok(planning_type,
                              ((pk, w) for (pk, _), w
                               in C.ROUTE_TYPE_WEIGHTS.items())) \
            and _expr_fast_ok(accident_type,
                              ((ak, w) for (_, ak), w
                               in C.ROUTE_TYPE_WEIGHTS.items())) \
            and _finite_float(C.DEFAULT_ROUTE_TYPE_WEIGHT):
        p = f"lower({planning_type})"
        a = f"lower({accident_type})"
        arms = " ".join(
            f"WHEN ({p} = '{pk}' AND {a} = '{ak}') THEN {w!r}D"
            for (pk, ak), w in C.ROUTE_TYPE_WEIGHTS.items())
        return F.expr(
            f"CASE {arms} ELSE {C.DEFAULT_ROUTE_TYPE_WEIGHT!r}D END")
    p = F.lower(_col(planning_type))
    a = F.lower(_col(accident_type))
    expr: Column | None = None
    for (pk, ak), w in C.ROUTE_TYPE_WEIGHTS.items():
        cond = (p == F.lit(pk)) & (a == F.lit(ak))
        expr = F.when(cond, F.lit(w)) if expr is None else expr.when(cond, F.lit(w))
    assert expr is not None
    return expr.otherwise(F.lit(C.DEFAULT_ROUTE_TYPE_WEIGHT))


def route_type_index(route_type: ColumnOrName) -> Column:
    """0-6 index into config.ROUTE_TYPES; NULL for unknown types.

    Cross-join fast path: index each side once, then the pair-grain matrix
    lookup is a single element_at into a 49-double literal array instead of a
    49-branch string-comparison CASE per pair.
    """
    if isinstance(route_type, str) and _PLAIN_IDENT.match(route_type) \
            and all(isinstance(t, str) and "'" not in t and "\\" not in t
                    for t in C.ROUTE_TYPES):
        arms = " ".join(f"WHEN lower({route_type}) = '{t}' THEN {i}"
                        for i, t in enumerate(C.ROUTE_TYPES))
        return F.expr(f"CASE {arms} ELSE CAST(NULL AS INT) END")
    s = F.lower(_col(route_type))
    expr: Column | None = None
    for i, t in enumerate(C.ROUTE_TYPES):
        cond = s == F.lit(t)
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
    assert expr is not None
    return expr.otherwise(F.lit(None).cast("int"))


def route_type_weight_flat() -> Column:
    """The 7x7 matrix flattened row-major by ROUTE_TYPES order as a literal array."""
    vals = [
        C.ROUTE_TYPE_WEIGHTS[(p, a)]
        for p in C.ROUTE_TYPES for a in C.ROUTE_TYPES
    ]
    return F.array(*[F.lit(v) for v in vals])


def route_type_weight_indexed(p_idx: ColumnOrName, a_idx: ColumnOrName) -> Column:
    """Matrix weight from precomputed side indexes (default 0.5 on unknown)."""
    idx = (_col(p_idx) * 7 + _col(a_idx) + 1).cast("int")
    return F.coalesce(F.element_at(route_type_weight_flat(), idx),
                      F.lit(C.DEFAULT_ROUTE_TYPE_WEIGHT))


def season_of_py(date_str: str) -> str:
    """Python-side season for a constant date (e.g. the prediction date)."""
    month = int(date_str.split("-")[1])
    for name, months in C.SEASONS.items():
        if month in months:
            return name
    return "summer"


# --- K11/K12: severity (severity_weighting.py:18-148) -----------------------

def severity_weight(severity: ColumnOrName) -> Column:
    """fatal 1.3 / serious 1.1 / minor 1.0 / unknown 1.0 (default 1.0).

    Reference: backend/app/services/severity_weighting.py:18-55.
    """
    return map_literal(C.SEVERITY_BOOSTERS, severity, C.DEFAULT_SEVERITY_WEIGHT)


def normalize_severity(raw: ColumnOrName) -> Column:
    """Substring-match normalization of raw severity strings.

    Reference: backend/app/services/severity_weighting.py:93-148.
    """
    s = F.lower(F.trim(F.coalesce(_col(raw), F.lit(""))))
    fatal = s.rlike("fatal|death|fatality|died|killed")
    serious = s.rlike("serious|severe|critical|injured|injury|hospitalized")
    minor = s.rlike("minor|slight|light|uninjured|no injury")
    return (F.when(s == "", F.lit("unknown"))
             .when(fatal, F.lit("fatal"))
             .when(serious, F.lit("serious"))
             .when(minor, F.lit("minor"))
             .otherwise(F.lit("unknown")))


# --- K13: elevation bonus (elevation_weighting.py:16-50) ---------------------

def elevation_weight(route_elev_m: ColumnOrName, accident_elev_m: ColumnOrName,
                     route_type: ColumnOrName) -> Column:
    """1 + 0.15*exp(-(|d_elev|/decay)^2); missing elevation -> neutral 1.0.

    Canonical bonus-only semantic (SURVEY.md §4 divergence #1).
    Reference: backend/app/services/elevation_weighting.py:16-50.
    """
    decay = map_literal(C.ELEVATION_DECAY_CONSTANT, route_type,
                        C.ELEVATION_DECAY_CONSTANT["default"])
    diff = F.abs(_col(accident_elev_m) - _col(route_elev_m))
    q = diff / decay
    bonus = F.lit(C.ELEVATION_BONUS_MAX) * F.exp(-(q * q))
    return F.when(_col(route_elev_m).isNull() | _col(accident_elev_m).isNull(),
                  F.lit(1.0)).otherwise(F.lit(1.0) + bonus)


# --- K15: grade weight from parsed difficulties (grade_weighting.py:210-267) -

def grade_weight_from_difficulty(route_diff: ColumnOrName,
                                 accident_diff: ColumnOrName) -> Column:
    """max(0.25, exp(-(d^2)/(2 sigma^2))), sigma = 3.0/1.18; NULL -> 1.0.

    Reference: backend/app/services/grade_weighting.py:210-267.
    """
    d = F.abs(_col(route_diff) - _col(accident_diff))
    w = F.exp(-(d * d) / F.lit(2.0 * C.GRADE_SIGMA**2))
    return F.when(_col(route_diff).isNull() | _col(accident_diff).isNull(),
                  F.lit(1.0)).otherwise(F.greatest(F.lit(C.GRADE_MIN_WEIGHT), w))


# --- K14: grade parsing (grade_weighting.py:28-199) --------------------------
# Column-expression parse: YDS via a literal-map lookup (constant-folded,
# codegen-friendly, exactly the reference table), V/WI/AI/M/A/C numeric
# scales via regexp_extract.

def _yds_lookup(strcol: Column) -> Column:
    """YDS table lookup as a constant-folded literal map; NULL on a miss.

    r12: was a 40-way when-chain inlined at 6 sites per parse_grade call;
    the two-sided k14 query's generated class blew janino's compiler
    (InternalCompilerException -> whole projection ran interpreted).  The
    all-literal create_map constant-folds to a single map literal and
    try_element_at returns NULL for a missing key even under ANSI —
    identical semantics to the when-chain's .otherwise(NULL), including
    NULL/'' inputs (no such key).
    """
    entries: list[Column] = []
    for k, v in C.YDS_GRADES.items():
        entries.append(F.lit(k))
        entries.append(F.lit(float(v)))
    return F.try_element_at(F.create_map(*entries), strcol)


def parse_grade(grade: ColumnOrName) -> Column:
    """Normalize any grade string to the 0-20 difficulty scale; NULL if unparseable.

    Pure Column expression (no UDF): the YDS table is a literal-map lookup
    and the numeric scales (V/WI/AI/M/A/C) use regexp_extract arithmetic.
    Reference: backend/app/services/grade_weighting.py:28-199.
    Simplifications vs reference: +/- modifiers and slash grades are handled
    for YDS; the bare "N" fallback tries the YDS table with a "5." prefix.
    """
    g = F.trim(_col(grade))
    gl = F.lower(g)
    gu = F.upper(g)

    # +/- modifiers on a known YDS base
    base_plus = F.regexp_extract(gl, r"^(5\.\d+[a-d]?)\+$", 1)
    base_minus = F.regexp_extract(gl, r"^(5\.\d+[a-d]?)-$", 1)

    _lookup = _yds_lookup

    plus_val = _lookup(base_plus) + F.lit(0.25)
    minus_val = _lookup(base_minus) - F.lit(0.25)

    # Slash grades 5.10a/b -> average of the two letters
    slash_base = F.regexp_extract(gl, r"^(5\.\d+)([a-d])/([a-d])$", 1)
    slash_l1 = F.regexp_extract(gl, r"^(5\.\d+)([a-d])/([a-d])$", 2)
    slash_l2 = F.regexp_extract(gl, r"^(5\.\d+)([a-d])/([a-d])$", 3)
    slash_val = (_lookup(F.concat(slash_base, slash_l1))
                 + _lookup(F.concat(slash_base, slash_l2))) / F.lit(2.0)

    # V-scale: V<N> = 10 + 0.4*N ; VB = 9.5
    vnum = F.regexp_extract(gu, r"^V(\d+)", 1)
    v_val = F.when(gu == "VB", F.lit(C.V_SCALE_OFFSET - 0.5)).otherwise(
        F.lit(C.V_SCALE_OFFSET) + vnum.cast("double") * F.lit(C.V_SCALE_MULTIPLIER))

    # Ice / mixed / aid numeric scales
    wi = F.regexp_extract(gu, r"^WI(\d+)", 1)
    ai = F.regexp_extract(gu, r"^AI(\d+)", 1)
    mm = F.regexp_extract(gu, r"^M(\d+)", 1)
    aa = F.regexp_extract(gu, r"^A(\d+)", 1)
    cc = F.regexp_extract(gu, r"^C(\d+)", 1)

    result = (
        F.when(g.isNull() | (g == ""), F.lit(None).cast("double"))
         .when(gl.rlike(r"^5\.\d+[a-d]?$"), _lookup(gl))
         .when(gl.rlike(r"^5\.\d+[a-d]?\+$"), plus_val)
         .when(gl.rlike(r"^5\.\d+[a-d]?-$"), minus_val)
         .when(gl.rlike(r"^5\.\d+[a-d]/[a-d]$"), slash_val)
         .when(gu.rlike(r"^V(\d+|B)"), v_val)
         .when(wi != "", F.lit(6.0) + (wi.cast("double") - 1) * F.lit(1.2))
         .when(ai != "", F.lit(7.0) + (ai.cast("double") - 1) * F.lit(1.4))
         .when(mm != "", F.lit(7.0) + (mm.cast("double") - 1) * F.lit(0.6))
         .when(aa != "", F.lit(8.0) + aa.cast("double") * F.lit(1.2))
         .when(cc != "", F.lit(8.0) + cc.cast("double") * F.lit(1.2))
         .otherwise(_lookup(F.concat(F.lit("5."), gl)))
    )
    return result


def grade_weight(route_grade: ColumnOrName, accident_grade: ColumnOrName) -> Column:
    """K14 + K15 composed on raw grade strings."""
    return grade_weight_from_difficulty(parse_grade(route_grade),
                                        parse_grade(accident_grade))


# --- K16: route-type inference from accident text (route_type_mapper.py) ----

def infer_route_type(tags: ColumnOrName, accident_type: ColumnOrName,
                     activity: ColumnOrName) -> Column:
    """Priority substring cascade over tags -> accident_type -> activity.

    Reference: backend/app/services/route_type_mapper.py:13-165 (abridged to
    the deterministic substring rules; the grade-in-tags heuristic keeps the
    5.11+/5.10- split).
    """
    t = F.lower(F.coalesce(_col(tags), F.lit("")))
    at = F.lower(F.coalesce(_col(accident_type), F.lit("")))
    act = F.lower(F.coalesce(_col(activity), F.lit("")))
    blob = F.concat_ws(" ", t, at, act)

    hard_yds = t.rlike(r"5\.1[1-5]")
    easy_yds = t.rlike(r"5\.([0-9]|10)\b")

    return (
        F.when(blob.contains("ice climb") | t.contains("ice"), F.lit("ice"))
         .when(blob.contains("mixed"), F.lit("mixed"))
         .when(blob.contains("alpine") | blob.contains("avalanche")
               | blob.contains("rockfall") | blob.contains("backcountry")
               | blob.contains("ski"), F.lit("alpine"))
         .when(blob.contains("boulder"), F.lit("boulder"))
         .when(blob.contains("sport") | hard_yds, F.lit("sport"))
         .when(blob.contains("aid climb"), F.lit("aid"))
         .when(blob.contains("trad") | blob.contains("rappel")
               | blob.contains("roped") | easy_yds, F.lit("trad"))
         .otherwise(F.lit("default"))
    )


def route_type_confidence(tags: ColumnOrName, accident_type: ColumnOrName,
                          activity: ColumnOrName) -> Column:
    """Confidence (0.0-1.0) for the K16 route-type inference.

    Mirror of the reference's tiered cascade (route_type_mapper.py:168-241):
    0.95 explicit type in tags > 0.85/0.80 specific accident type >
    0.60 grade/roped tags > 0.50 any non-unknown accident type >
    0.60/0.40 activity hints > 0.20 floor.
    """
    t = F.lower(F.coalesce(_col(tags), F.lit("")))
    at = F.lower(F.coalesce(_col(accident_type), F.lit("")))
    act = F.lower(F.coalesce(_col(activity), F.lit("")))
    explicit = (t.contains("ice climbing") | t.contains("sport climbing")
                | t.contains("trad") | t.contains("alpine")
                | t.contains("mountaineering") | t.contains("mixed climbing")
                | t.contains("aid climbing") | t.contains("boulder"))
    return (
        F.when(explicit, F.lit(0.95))
         # reference tests "ice_climbing" then "ice" — substring "ice" covers both
         .when(at.contains("ice"), F.lit(0.85))
         .when(at.contains("avalanche"), F.lit(0.80))
         .when(t.contains("grade:") | t.contains("roped"), F.lit(0.60))
         .when((at != "") & (at != "unknown"), F.lit(0.50))
         .when(act.contains("backcountry") | act.contains("mountaineer"),
               F.lit(0.60))
         .when(act.contains("climber") | act.contains("climbing"), F.lit(0.40))
         .otherwise(F.lit(0.20))
    )


# --- K17: route-type normalization (mp_routes.py:109-150) --------------------

def normalize_route_type(raw_type: ColumnOrName) -> Column:
    """Map noisy route 'type' strings to the canonical 7 (+'trad' default)."""
    s = F.lower(F.coalesce(_col(raw_type), F.lit("")))
    return (F.when(s.contains("ice"), F.lit("ice"))
             .when(s.contains("mixed"), F.lit("mixed"))
             .when(s.contains("alpine"), F.lit("alpine"))
             .when(s.contains("boulder"), F.lit("boulder"))
             .when(s.contains("sport"), F.lit("sport"))
             .when(s.contains("aid"), F.lit("aid"))
             .when(s.contains("trad"), F.lit("trad"))
             .otherwise(F.lit("trad")))


# --- K18: color code (canonical 25/50/75) ------------------------------------

def color_code(risk: ColumnOrName) -> Column:
    """Reference: location_safety_computation.py:542-549 (25/50/75 thresholds)."""
    r = _col(risk)
    t1, t2, t3 = C.COLOR_THRESHOLDS
    return (F.when(r < t1, F.lit("green"))
             .when(r < t2, F.lit("yellow"))
             .when(r < t3, F.lit("orange"))
             .otherwise(F.lit("red")))


# --- K19: bearing (geo_utils.py:55-99) ---------------------------------------

def bearing_deg(lat1: ColumnOrName, lon1: ColumnOrName,
                lat2: ColumnOrName, lon2: ColumnOrName) -> Column:
    """Initial great-circle bearing, 0-360 deg."""
    rlat1, rlat2 = F.radians(_col(lat1)), F.radians(_col(lat2))
    dlon = F.radians(_col(lon2) - _col(lon1))
    x = F.sin(dlon) * F.cos(rlat2)
    y = F.cos(rlat1) * F.sin(rlat2) - F.sin(rlat1) * F.cos(rlat2) * F.cos(dlon)
    deg = F.degrees(F.atan2(x, y))
    return (deg + 360.0) % 360.0


# --- F7: bounding-box prefilter (geo_utils.py:102-139) -----------------------

def bbox_contains(center_lat: float, center_lon: float, radius_km: float,
                  lat: ColumnOrName, lon: ColumnOrName) -> Column:
    """Cos-latitude-corrected bounding box around a point: the cheap
    pre-filter that enables parquet min/max row-group pruning before the
    exact haversine test.  Reference: backend/app/utils/geo_utils.py:102-139.
    """
    import math
    dlat = radius_km / 111.32
    dlon = radius_km / (111.32 * math.cos(math.radians(center_lat)))
    return (_col(lat).between(center_lat - dlat, center_lat + dlat)
            & _col(lon).between(center_lon - dlon, center_lon + dlon))


# --- K20: impact score (mp_routes.py:870-873) --------------------------------

def impact_score(distance_km: ColumnOrName) -> Column:
    return F.lit(100.0) * F.exp(-_col(distance_km) / F.lit(10.0))


# --- K23: temperature conversion (time_utils.py:151-174) ---------------------

def c_to_f(celsius: ColumnOrName) -> Column:
    return _col(celsius) * F.lit(9.0 / 5.0) + F.lit(32.0)


def f_to_c(fahrenheit: ColumnOrName) -> Column:
    return (_col(fahrenheit) - F.lit(32.0)) * F.lit(5.0 / 9.0)


# --- A1: risk normalization (safety_algorithm.py:348-367) --------------------

def normalize_risk(influence_sum: ColumnOrName) -> Column:
    return F.least(F.lit(C.MAX_RISK_SCORE),
                   F.greatest(F.lit(0.0),
                              _col(influence_sum) * F.lit(C.RISK_NORMALIZATION_FACTOR)))


# --- K9/F5: weather power + gate (safety_algorithm.py:308-319) ---------------

def weather_factor(weather_weight: ColumnOrName) -> Column:
    """w^3 if w >= 0.25 else 0 (exclusion gate)."""
    w = _col(weather_weight)
    return F.when(w < F.lit(C.WEATHER_EXCLUSION_THRESHOLD), F.lit(0.0)) \
            .otherwise(F.pow(w, F.lit(float(C.WEATHER_POWER))))
