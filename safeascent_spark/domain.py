"""Derived SafeAscent-domain tables over the driver's synthetic star schema.

The reference scores *routes* against *accidents* using 7-day *weather*
windows (SURVEY.md §1).  The driver's test data is TPC-H-ish
(`/root/testdata/sf*/`), so every domain table is derived deterministically:

* ``routes``      <- customer   (probe side; route_id = c_custkey)
* ``locations``   <- routes     (coords inherited by routes via J1-style join;
                                 location_id = c_custkey % 200 models the
                                 ~6x route->location sharing the reference
                                 exploits, location_safety_computation.py:5-7)
* ``accidents``   <- supplier   (small broadcast build side)
* ``weather``     <- events     (long form: one row per (wbucket, day_offset),
                                 models weather_patterns rounded to a grid,
                                 backend/app/models/weather.py:11-36)

Each derivation exists twice: as a PySpark DataFrame builder and as a DuckDB
CTE string (for ``oracle_sql``).  The two MUST stay in sync — the driver
hash-compares results at sf0.01.
"""

from __future__ import annotations

import functools
import math
import os
import re
import weakref
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed "current date" every scoring query predicts for (must be a constant
# so Spark and DuckDB agree; the reference uses date.today()).
PRED_DATE = "2024-06-15"
ACCIDENT_EPOCH = "2014-06-16"  # accident dates span ~10y before PRED_DATE
N_LOCATIONS = 200   # c_custkey % 200
N_WBUCKETS = 100    # weather grid buckets

ROUTE_TYPE_BY_MOD = ["alpine", "ice", "mixed", "trad", "sport", "aid", "boulder"]
GRADE_BY_MOD = ["5.8", "5.10a", "5.11b", "5.12c", "V5", None]
SEVERITY_BY_MOD = ["fatal", "serious", "minor", "unknown"]
# Raw severity strings exercising K12 normalization (severity_weighting.py:93-148)
SEVERITY_RAW_BY_MOD = [
    "Fatal fall on descent", "hospitalized with injuries",
    "minor scrapes only", "unconfirmed report",
]
# Accident free-text exercising K16 route-type inference (route_type_mapper.py:13-165)
TAGS_BY_MOD = [
    "ice climbing near couloir", "mixed terrain m4",
    "avalanche in backcountry", "boulder problem highball",
    "sport climbing fall 5.12", "rappel anchor failure",
]


_MEMO_ATTR = "_safeascent_memo"
_JDF_ATTR = "_safeascent_persisted_jdfs"


def release_frames(jdfs: list) -> None:
    """Free the storage of every frame in ``jdfs`` (py4j Dataset handles).

    ``Dataset.unpersist`` frees a ``.cache()`` frame, but does nothing on a
    ``localCheckpoint`` frame: its blocks belong to the RDD under the
    frame's ``LogicalRDD`` plan, so that RDD is unpersisted too.  Writers
    (``txlog``) call it on the checkpoints they pin once their commit
    returns.  It also runs as the ``weakref.finalize`` callback of a
    collected session, so storage returns to the SHARED SparkContext at
    once instead of lingering for the context's lifetime — a leak for
    long-lived drivers that churn ``newSession()`` clones (ADVICE r4).
    The list holds only JVM handles, which do NOT reference the Python
    session, so the finalize args cannot keep the session alive.
    Exceptions are swallowed: if the whole context is gone, the blocks
    are gone with it."""
    for j in jdfs:
        try:
            j.unpersist(False)
            plan = j.queryExecution().logical()
            if plan.nodeName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except Exception:
            pass


def session_cache(spark: SparkSession, ns: str) -> dict:
    """Per-SparkSession memo namespace for DataFrame builders.

    A DataFrame executes under the conf of the session that BUILT it, so a
    cache keyed by applicationId (shared across ``spark.newSession()``
    clones) would silently run a second session's queries under the first
    session's broadcast/AQE/timezone settings — exactly the hazard a skew
    or conf test creating an isolated session must not hit.

    The memo lives as an ATTRIBUTE of the session object, not in a
    module-level ``WeakKeyDictionary``: cached DataFrames strongly
    reference their session, and a weak-key table whose VALUES reach the
    key keeps the key alive forever (the documented weakref caveat) — the
    session would never be collected.  As a session attribute, session →
    memo → DataFrame → session is a pure internal cycle that CPython's
    GC collects as soon as external references drop; the finalizer then
    frees the storage of every frame ``session_memo`` registered."""
    per = getattr(spark, _MEMO_ATTR, None)
    if per is None:
        per = {}
        setattr(spark, _MEMO_ATTR, per)
        jdfs: list = []
        setattr(spark, _JDF_ATTR, jdfs)
        weakref.finalize(spark, release_frames, jdfs)
    return per.setdefault(ns, {})


def release_registry(spark: SparkSession) -> list:
    """The frames this session releases when it is collected."""
    session_cache(spark, "_release")  # creates the registry + finalizer
    return getattr(spark, _JDF_ATTR)


def session_memo(spark: SparkSession, ns: str, key, build: Callable):
    """``build()`` memoized per (session, ``ns``, ``key``).  Every
    DataFrame in the result (a frame or a tuple) is a stored frame —
    ``.cache()``d or checkpointed — and is registered for release when
    the session is collected."""
    cache = session_cache(spark, ns)
    if key not in cache:
        val = build()
        release_registry(spark).extend(
            f._jdf for f in (val if isinstance(val, tuple) else (val,))
            if isinstance(f, DataFrame))
        cache[key] = val
    return cache[key]


# name -> raw (pre-checkpoint) builder of every ``checkpointed`` frame;
# ``planprobes.all_probes()`` is generated from it.
CHECKPOINTS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def checkpointed(name: str, scope: str = "session"):
    """Decorate a ``(spark, sf_dir) -> DataFrame`` builder of a raw
    pipeline; a call returns ``raw.localCheckpoint(eager=True)``.

    * ``scope="session"``: memoized per (session, sf_dir) and released
      when the session is collected — for dimensions reused across
      queries (the frozen session-memoization policy).
    * ``scope="invocation"``: built fresh on every call and never
      registered; ContextCleaner frees it after the JVM has collected
      the query's frames.  Registering it would pin one copy per call
      until session GC.

    The undecorated builder is recorded in ``CHECKPOINTS[name]``: the
    plan-probe gate audits the pipeline the checkpoint hides."""
    if scope not in ("session", "invocation"):
        raise ValueError(f"checkpoint scope {scope!r}")

    def deco(build):
        CHECKPOINTS[name] = build

        @functools.wraps(build)
        def frame(spark: SparkSession, sf_dir: str) -> DataFrame:
            def ck():
                return build(spark, sf_dir).localCheckpoint(eager=True)
            if scope == "invocation":
                return ck()
            return session_memo(spark, name, sf_dir, ck)
        return frame
    return deco


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoized per (session, sf, table): a spark.read.parquet re-lists files
    # and re-reads footers on every call (~100 ms of driver work), and one
    # query build touches the base tables up to 8 times.  The cached object
    # is just the unresolved scan plan — no data is pinned.
    # The driver's synthetic parquet uses TIMESTAMP(NANOS); Spark only reads
    # that with the legacy nanos-as-long mapping (the column arrives as
    # nanoseconds-since-epoch LongType — see ts_seconds()).
    # Timestamp->date/month extraction is session-timezone dependent in
    # Spark but wall-clock in DuckDB; pin UTC so oracle parity holds under
    # any caller session (the driver builds its own).
    # Both confs are SESSION-scoped; pin them unconditionally so even a
    # session that will hit this cache gets its own confs set.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cache = session_cache(spark, "load_table")
    key = (sf_dir, name)
    if key not in cache:
        cache[key] = ts_to_nanos(
            spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return cache[key]


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-side ``rows`` as a JVM local relation: one generated
    ``VALUES`` query with exact literals, so the frame never needs a
    Python worker.

    ``spark.createDataFrame(<python rows>)`` builds a ``PythonRDD``: every
    time the frame executes, ``defaultParallelism`` Python-worker tasks
    re-serialize the rows.  A ``LocalRelation`` runs in the JVM, carries
    exact size statistics and folds into the plan.  ``schema`` is a DDL
    string or a ``StructType``; the result has its column types and
    nullability.  Parsing costs ~30 µs per row, so this is for dimension-
    sized row lists, not bulk data."""
    st = schema if isinstance(schema, T.StructType) \
        else T._parse_datatype_string(schema)
    fields = st.fields
    rows = [tuple(r) for r in rows]
    if not rows:
        # one placeholder row, filtered out: VALUES cannot be empty
        body = [tuple(None if f.nullable else _ZERO[type(f.dataType)]
                      for f in fields)]
    else:
        body = rows
    cells = [[_sql_literal(v, f.dataType) for v, f in zip(r, fields)]
             for r in body]
    for i, f in enumerate(fields):
        has_null = any(r[i] is None for r in body)
        if has_null and not f.nullable:
            raise ValueError(f"local_frame: null in non-nullable {f.name!r}")
        if f.nullable and not has_null:
            # a VALUES column is nullable iff one of its cells is
            cells[0][i] = f"IF(TRUE, {cells[0][i]}, NULL)"
    names = ", ".join("`" + f.name.replace("`", "``") + "`" for f in fields)
    values = ", ".join("(" + ", ".join(c) + ")" for c in cells)
    where = "" if rows else " WHERE FALSE"
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names}){where}")


# placeholder value per type for the empty frame's non-nullable columns
_ZERO = {T.StringType: "", T.IntegerType: 0, T.LongType: 0,
         T.DoubleType: 0.0, T.ArrayType: []}
# integer type -> (value bits, SQL literal suffix)
_INTEGRAL = {T.IntegerType: (31, ""), T.LongType: (63, "L")}


def _sql_literal(v, t) -> str:
    """Spark SQL text of ``v`` as a value of type ``t``: the same value
    and type, and non-null unless ``v`` is None."""
    if v is None:
        return f"CAST(NULL AS {t.simpleString()})"
    if isinstance(t, T.StringType):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(t, T.DoubleType):
        v = float(v)
        if math.isfinite(v):
            return f"{v!r}D"
        # a string cast is nullable; coalesce keeps the column non-null
        return f"coalesce(CAST('{v}' AS DOUBLE), 0D)"
    if type(t) in _INTEGRAL:
        bits, suffix = _INTEGRAL[type(t)]
        if not -(1 << bits) <= v < (1 << bits):
            raise ValueError(f"local_frame: {v} out of range for "
                             f"{t.simpleString()}")
        return f"{int(v)}{suffix}"
    if isinstance(t, T.ArrayType):
        # the cast types the array, empty or not; SQL has no NOT NULL
        # element type to cast to
        if t.containsNull:
            items = ", ".join(_sql_literal(x, t.elementType) for x in v)
            return f"CAST(array({items}) AS {t.simpleString()})"
    raise TypeError(f"local_frame: unsupported type {t.simpleString()}")


def ts_to_nanos(df: DataFrame) -> DataFrame:
    """Normalize an event-time ``ts`` column to the canonical ns-long form.

    The driver's synthetic data has shipped ``ts`` both as TIMESTAMP(NANOS)
    (which nanosAsLong surfaces as a nanosecond LongType) and as
    timestamp[us] (which Spark reads as TIMESTAMP_NTZ / TIMESTAMP).  All
    downstream epoch math — and its DuckDB ``epoch_ns`` oracle mirror — is
    written against the ns-long form, so convert here, once, at the source.
    A TIMESTAMP_NTZ wall clock is interpreted under the pinned UTC session
    timezone, matching DuckDB's tz-free TIMESTAMP semantics exactly; the
    µs->ns widening is exact (µs * 1000).
    """
    if "ts" not in df.columns:
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
    if isinstance(dt, T.TimestampType):
        return df.withColumn("ts", F.unix_micros("ts") * 1000)
    return df


def ts_seconds(col):
    """Nanosecond-long timestamp column -> epoch seconds (integer div)."""
    return F.expr(f"{col} div 1000000000") if isinstance(col, str) else col


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure a join input has enough partitions: the probe side of a
    broadcast join, or either side of a shuffle join.

    The local test parquet files are single row-groups, so FileScan yields 1
    partition.  On the probe side of a broadcast join that runs the join on
    one core.  On a side of a shuffle join it makes that side's exchange
    one map task, and AQE splits a skewed reducer partition only at
    map-output boundaries, so the skew-join split can never cut it.  On a
    real cluster the input already has >= parallelism partitions and this
    is a no-op — we only pay the small-shuffle when the input is undersplit.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    n = _estimate_scan_partitions(spark, df, target)
    if n < target:
        return df.repartition(target)
    return df


def ckpt_parts(spark: SparkSession) -> int:
    """Partition target for per-round ``localCheckpoint``s inside
    iterative loops (k-core peeling, PCA power iteration).

    The checkpointed frame is re-scanned every round, so it should be
    wide enough to keep the cluster busy — ``defaultParallelism``, not
    a constant (VERDICT r8: a hard-coded ``coalesce(8)`` on the
    corpus-derived k-core edge set makes 8 tasks/round the choke point
    at 100x routes).  Floored at 8 so a tiny local session still
    overlaps scheduling with compute.  ``coalesce`` only ever lowers a
    partition count, so on inputs already wider than the target this
    caps the per-round task count without a shuffle.
    """
    return max(8, spark.sparkContext.defaultParallelism)


def _parse_bytes(v: str) -> int:
    """Spark size-conf string ('128MB', '4m', '134217728b', bare int,
    '-1' = disabled) -> bytes."""
    m = re.fullmatch(r"(-?\d+)\s*([a-zA-Z]*)", v.strip())
    unit = m.group(2).lower().rstrip("b") or ""
    return int(m.group(1)) * {"": 1, "k": 2**10, "m": 2**20,
                              "g": 2**30, "t": 2**40}[unit]


def _estimate_scan_partitions(spark: SparkSession, df: DataFrame,
                              parallelism: int) -> int:
    """Estimate how many scan partitions Spark will give ``df`` — mirrors
    FilePartition.maxSplitBytes (bytes + per-file open cost, packed), so a
    single large SPLITTABLE file is not misread as undersplit (raw file
    count was: 1 file => repartition even for a 10 GB parquet Spark would
    scan as ~80 splits) and many tiny files are not misread as well-split.
    Falls back to the physical-plan partition probe when the input has no
    stat-able files (localCheckpoint returns no inputFiles)."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                         "128MB"))
    open_cost = _parse_bytes(spark.conf.get("spark.sql.files.openCostInBytes",
                                            "4MB"))
    total = 0
    for f in files:
        p = unquote(urlparse(f).path) if "://" in f else f
        try:
            total += os.path.getsize(p) + open_cost
        except OSError:
            # non-local filesystem: can't stat cheaply — treat each file as
            # one split (the pre-round-3 heuristic)
            return len(files)
    bytes_per_core = total // max(parallelism, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    return max(1, math.ceil(total / max_split))


# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------

def memo_plan(fn):
    """Memoize a (spark, sf_dir) -> DataFrame builder per session.

    Building these plans costs hundreds of py4j round-trips (the CASE
    derivations alone are ~50 Column calls); the returned DataFrame is an
    immutable logical plan, so reuse is free and pins no data."""

    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        cache = session_cache(spark, f"memo_df:{fn.__name__}")
        if sf_dir not in cache:
            cache[sf_dir] = fn(spark, sf_dir)
        return cache[sf_dir]

    wrapper.__name__ = fn.__name__
    wrapper.__doc__ = fn.__doc__
    return wrapper


def _mod_case(key, values: list, scale: int = 1):
    """CASE key*scale % len(values) -> values[i] (None allowed)."""
    m = (F.col(key) * scale % len(values)) if scale != 1 else (F.col(key) % len(values))
    expr = None
    for i, v in enumerate(values):
        lit = F.lit(v) if v is not None else F.lit(None).cast("string")
        expr = F.when(m == i, lit) if expr is None else expr.when(m == i, lit)
    return expr


@memo_plan
def routes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routes from customer; coords live on `locations` (J1 inheritance)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("route_id"),
        F.col("c_name").alias("route_name"),
        (F.col("c_custkey") % N_LOCATIONS).alias("location_id"),
        _mod_case("c_custkey", ROUTE_TYPE_BY_MOD).alias("route_type"),
        _mod_case("c_custkey", GRADE_BY_MOD).alias("grade"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("popularity"),
    )


@memo_plan
def locations_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location dimension derived from the route->location key space."""
    r = routes_df(spark, sf_dir)
    loc = r.select("location_id").distinct()
    lid = F.col("location_id")
    return loc.select(
        lid,
        (F.lit(25.0) + (lid * 37 % 2000) / F.lit(100.0)).alias("latitude"),
        (F.lit(-125.0) + (lid * 73 % 2000) / F.lit(100.0)).alias("longitude"),
        F.when(lid % 11 == 0, F.lit(None).cast("double"))
         .otherwise((lid * 57 % 4000).cast("double")).alias("elevation_m"),
        (lid % N_WBUCKETS).alias("wbucket"),
    )


@memo_plan
def accidents_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accidents from supplier (the broadcast build side)."""
    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return s.select(
        k.alias("accident_id"),
        (F.lit(25.0) + (k * 41 % 2000) / F.lit(100.0)).alias("latitude"),
        (F.lit(-125.0) + (k * 79 % 2000) / F.lit(100.0)).alias("longitude"),
        F.when(k % 13 == 0, F.lit(None).cast("double"))
         .otherwise((k * 61 % 4000).cast("double")).alias("elevation_m"),
        F.date_add(F.to_date(F.lit(ACCIDENT_EPOCH)),
                   (k * 97 % 3650).cast("int")).alias("accident_date"),
        _mod_case("s_suppkey", ROUTE_TYPE_BY_MOD).alias("route_type"),
        _mod_case("s_suppkey", SEVERITY_BY_MOD).alias("severity"),
        _mod_case("s_suppkey", SEVERITY_RAW_BY_MOD).alias("severity_raw"),
        _mod_case("s_suppkey", GRADE_BY_MOD, scale=3).alias("grade"),
        _mod_case("s_suppkey", TAGS_BY_MOD).alias("tags"),
        ((k * 31 + 17) % N_WBUCKETS).alias("wbucket"),
    )


@memo_plan
def weather_long_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form weather: one row per (wbucket, day_offset 0..6).

    day_offset 6 = most recent day (day 0 in the reference's -6..0 window,
    predict.py:543-546).  Factors are deterministic transforms of event
    aggregates; visibility is constant for wbucket % 10 == 0 to exercise the
    zero-variance correlation edge (stats_utils.py:155-159).
    """
    e = load_table(spark, sf_dir, "events")
    agg = (e.groupBy((F.col("user_id") % N_WBUCKETS).alias("wbucket"),
                     (F.col("event_id") % 7).alias("day_offset"))
            .agg(F.avg("value").alias("v_avg"),
                 F.sum("value").alias("v_sum"),
                 F.min("value").alias("v_min"),
                 F.max("value").alias("v_max"),
                 F.count(F.lit(1)).alias("n_obs")))
    t_avg = (F.col("v_avg") % 30.0) - 5.0
    return agg.select(
        "wbucket", "day_offset", "n_obs",
        t_avg.alias("temperature"),
        (t_avg - (F.col("v_max") % 8.0)).alias("temp_min"),
        (t_avg + (F.col("v_min") % 8.0) + 0.5).alias("temp_max"),
        (F.col("v_sum") % 20.0).alias("precipitation"),
        ((F.col("v_avg") * 2.0) % 25.0).alias("wind_speed"),
        F.when(F.col("wbucket") % 10 == 0, F.lit(8000.0))
         .otherwise(1000.0 + (F.col("v_sum") % 9000.0)).alias("visibility"),
        ((F.col("n_obs") * 7 % 100).cast("double")).alias("cloud_cover"),
    )


@memo_plan
def archive_stats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket long-run weather stats (mean, population std per factor).

    Models the 5-year archive statistics feeding extreme-weather detection
    (weather_service.py:291-478), computed over event-grain factor values so
    the archive is a longer series than the 7-day window.
    """
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    ev = e.select(
        (F.col("user_id") % N_WBUCKETS).alias("wbucket"),
        ((v % 30.0) - 5.0).alias("x_temp"),
        (v % 20.0).alias("x_precip"),
        ((v * 2.0) % 25.0).alias("x_wind"),
        (1000.0 + (v % 9000.0)).alias("x_vis"),
    )
    return ev.groupBy("wbucket").agg(
        F.avg("x_temp").alias("mean_temp"), F.stddev_pop("x_temp").alias("std_temp"),
        F.avg("x_precip").alias("mean_precip"), F.stddev_pop("x_precip").alias("std_precip"),
        F.avg("x_wind").alias("mean_wind"), F.stddev_pop("x_wind").alias("std_wind"),
        F.avg("x_vis").alias("mean_vis"), F.stddev_pop("x_vis").alias("std_vis"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle CTEs (same derivations as SQL text)
# ---------------------------------------------------------------------------

def _sql_mod_case(key: str, values: list, scale: int = 1) -> str:
    m = f"({key} * {scale} % {len(values)})" if scale != 1 else f"({key} % {len(values)})"
    whens = " ".join(
        f"WHEN {m} = {i} THEN " + ("NULL" if v is None else f"'{v}'")
        for i, v in enumerate(values)
    )
    return f"(CASE {whens} END)"


ROUTES_CTE = f"""
routes AS (
  SELECT c_custkey AS route_id,
         c_name AS route_name,
         c_custkey % {N_LOCATIONS} AS location_id,
         {_sql_mod_case('c_custkey', ROUTE_TYPE_BY_MOD)} AS route_type,
         {_sql_mod_case('c_custkey', GRADE_BY_MOD)} AS grade,
         c_mktsegment AS segment,
         c_acctbal AS popularity
  FROM customer
)"""

LOCATIONS_CTE = f"""
locations AS (
  SELECT location_id,
         25.0 + (location_id * 37 % 2000) / 100.0 AS latitude,
         -125.0 + (location_id * 73 % 2000) / 100.0 AS longitude,
         CASE WHEN location_id % 11 = 0 THEN NULL
              ELSE CAST(location_id * 57 % 4000 AS DOUBLE) END AS elevation_m,
         location_id % {N_WBUCKETS} AS wbucket
  FROM (SELECT DISTINCT c_custkey % {N_LOCATIONS} AS location_id FROM customer)
)"""

ACCIDENTS_CTE = f"""
accidents AS (
  SELECT s_suppkey AS accident_id,
         25.0 + (s_suppkey * 41 % 2000) / 100.0 AS latitude,
         -125.0 + (s_suppkey * 79 % 2000) / 100.0 AS longitude,
         CASE WHEN s_suppkey % 13 = 0 THEN NULL
              ELSE CAST(s_suppkey * 61 % 4000 AS DOUBLE) END AS elevation_m,
         DATE '{ACCIDENT_EPOCH}' + CAST(s_suppkey * 97 % 3650 AS INT) AS accident_date,
         {_sql_mod_case('s_suppkey', ROUTE_TYPE_BY_MOD)} AS route_type,
         {_sql_mod_case('s_suppkey', SEVERITY_BY_MOD)} AS severity,
         {_sql_mod_case('s_suppkey', SEVERITY_RAW_BY_MOD)} AS severity_raw,
         {_sql_mod_case('s_suppkey', GRADE_BY_MOD, scale=3)} AS grade,
         {_sql_mod_case('s_suppkey', TAGS_BY_MOD)} AS tags,
         (s_suppkey * 31 + 17) % {N_WBUCKETS} AS wbucket
  FROM supplier
)"""

WEATHER_CTE = f"""
weather AS (
  SELECT wbucket, day_offset, n_obs,
         t_avg AS temperature,
         t_avg - (v_max % 8.0) AS temp_min,
         t_avg + (v_min % 8.0) + 0.5 AS temp_max,
         v_sum % 20.0 AS precipitation,
         (v_avg * 2.0) % 25.0 AS wind_speed,
         CASE WHEN wbucket % 10 = 0 THEN 8000.0
              ELSE 1000.0 + (v_sum % 9000.0) END AS visibility,
         CAST(n_obs * 7 % 100 AS DOUBLE) AS cloud_cover
  FROM (
    SELECT user_id % {N_WBUCKETS} AS wbucket,
           event_id % 7 AS day_offset,
           avg(value) AS v_avg, sum(value) AS v_sum,
           min(value) AS v_min, max(value) AS v_max,
           count(*) AS n_obs,
           (avg(value) % 30.0) - 5.0 AS t_avg
    FROM events
    GROUP BY 1, 2
  )
)"""

ARCHIVE_STATS_CTE = f"""
archive_stats AS (
  SELECT wbucket,
         avg(x_temp) AS mean_temp, stddev_pop(x_temp) AS std_temp,
         avg(x_precip) AS mean_precip, stddev_pop(x_precip) AS std_precip,
         avg(x_wind) AS mean_wind, stddev_pop(x_wind) AS std_wind,
         avg(x_vis) AS mean_vis, stddev_pop(x_vis) AS std_vis
  FROM (
    SELECT user_id % {N_WBUCKETS} AS wbucket,
           (value % 30.0) - 5.0 AS x_temp,
           value % 20.0 AS x_precip,
           (value * 2.0) % 25.0 AS x_wind,
           1000.0 + (value % 9000.0) AS x_vis
    FROM events
  )
  GROUP BY wbucket
)"""
