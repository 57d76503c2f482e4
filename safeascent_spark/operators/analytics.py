"""Analytics endpoints as queries (P4): seasonality, rates, trends,
climbing windows, hourly risk (SURVEY.md §2.4/§2.5 A3/A4/A8/W3/W5, K21/K22).

Event timestamps arrive as nanosecond longs (see domain.load_table); all
calendar math is done with timezone-free integer epoch arithmetic so Spark
and DuckDB agree regardless of session timezone.
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

REF_LAT, REF_LON = 35.0, -115.0

# epoch-day / hour-of-day from a nanosecond-long timestamp (tz-free)
_DAY_NS = 86_400 * 1_000_000_000
_HOUR_NS = 3_600 * 1_000_000_000


def _epoch_day(col: str):
    return F.expr(f"{col} div {_DAY_NS}")


def _hour_of_day(col: str):
    return F.expr(f"({col} div {_HOUR_NS}) % 24")


def _sql_epoch_day(col: str) -> str:
    return f"(epoch_ns({col}) // {_DAY_NS})"


def _sql_hour(col: str) -> str:
    return f"((epoch_ns({col}) // {_HOUR_NS}) % 24)"


# --- A3: monthly accident seasonality (mp_routes.py:1150-1175) ---------------

def q_seasonal_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per calendar month within 50km of the query point: accident count,
    severity-mapped avg risk (fatal 100/serious 80/moderate 60/minor 40/else
    30 on the RAW severity text), avg days-ago.  Months without accidents
    appear with zero counts (the reference backfills all 12)."""
    a = domain.accidents_df(spark, sf_dir)
    dist = K.haversine_km(F.lit(REF_LAT), F.lit(REF_LON), "latitude", "longitude")
    sev = F.lower(F.col("severity_raw"))
    risk = (F.when(sev.contains("fatal") | sev.contains("death"), 100.0)
             .when(sev.contains("serious") | sev.contains("severe"), 80.0)
             .when(sev.contains("moderate"), 60.0)
             .when(sev.contains("minor") | sev.contains("light"), 40.0)
             .otherwise(30.0))
    days_ago = F.datediff(F.to_date(F.lit(domain.PRED_DATE)), F.col("accident_date"))
    monthly = (a.filter(dist < 50.0)
                .groupBy(F.month("accident_date").alias("month_num"))
                .agg(F.count(F.lit(1)).alias("accident_count"),
                     F.round(F.avg(risk), 6).alias("avg_risk_score"),
                     F.round(F.avg(days_ago.cast("double")), 6).alias("avg_days_ago")))
    months = spark.range(1, 13).select(F.col("id").cast("int").alias("month_num"))
    return (months.join(monthly, "month_num", "left")
                  .select("month_num",
                          F.coalesce("accident_count", F.lit(0)).alias("accident_count"),
                          F.coalesce("avg_risk_score", F.lit(0.0)).alias("avg_risk_score"),
                          F.col("avg_days_ago"))
                  .orderBy("month_num"))


def sql_seasonal_patterns() -> str:
    dist = S.haversine_km(str(REF_LAT), str(REF_LON), "latitude", "longitude")
    return f"""{_DOMAIN_WITH},
monthly AS (
  SELECT CAST(month(accident_date) AS INT) AS month_num,
         count(*) AS accident_count,
         round(avg(CASE
           WHEN lower(severity_raw) LIKE '%fatal%' OR lower(severity_raw) LIKE '%death%' THEN 100.0
           WHEN lower(severity_raw) LIKE '%serious%' OR lower(severity_raw) LIKE '%severe%' THEN 80.0
           WHEN lower(severity_raw) LIKE '%moderate%' THEN 60.0
           WHEN lower(severity_raw) LIKE '%minor%' OR lower(severity_raw) LIKE '%light%' THEN 40.0
           ELSE 30.0 END), 6) AS avg_risk_score,
         round(avg(CAST(datediff('day', accident_date, DATE '{domain.PRED_DATE}') AS DOUBLE)), 6)
           AS avg_days_ago
  FROM accidents
  WHERE {dist} < 50.0
  GROUP BY 1
)
SELECT m.month_num,
       coalesce(accident_count, 0) AS accident_count,
       coalesce(avg_risk_score, 0.0) AS avg_risk_score,
       avg_days_ago
FROM (SELECT CAST(unnest(generate_series(1, 12)) AS INT) AS month_num) m
LEFT JOIN monthly ON m.month_num = monthly.month_num
ORDER BY m.month_num"""


# --- A4: monthly ascent/accident rates (mp_routes.py:1663-1762) --------------

def q_ascent_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders play the mp_ticks role (ascents); rate per 1000 ascents.
    month backfill mirrors the reference's 12-month array."""
    o = domain.load_table(spark, sf_dir, "orders")
    a = domain.accidents_df(spark, sf_dir)
    ascents = o.groupBy(F.month(F.col("o_orderdate").cast("date")).alias("month_num")) \
               .agg(F.count(F.lit(1)).alias("ascent_count"))
    accidents = a.groupBy(F.month("accident_date").alias("month_num")) \
                 .agg(F.count(F.lit(1)).alias("accident_count"))
    months = spark.range(1, 13).select(F.col("id").cast("int").alias("month_num"))
    joined = (months.join(ascents, "month_num", "left")
                    .join(accidents, "month_num", "left")
                    .select("month_num",
                            F.coalesce("ascent_count", F.lit(0)).alias("ascent_count"),
                            F.coalesce("accident_count", F.lit(0)).alias("accident_count")))
    rate = F.when(F.col("ascent_count") > 0,
                  F.round(F.col("accident_count") / F.col("ascent_count") * 1000.0, 2)) \
            .otherwise(F.lit(0.0))
    return joined.withColumn("accident_rate", rate).orderBy("month_num")


def sql_ascent_rates() -> str:
    return f"""{_DOMAIN_WITH},
ascents AS (
  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS month_num,
         count(*) AS ascent_count
  FROM orders GROUP BY 1
),
accs AS (
  SELECT CAST(month(accident_date) AS INT) AS month_num,
         count(*) AS accident_count
  FROM accidents GROUP BY 1
)
SELECT m.month_num,
       coalesce(a.ascent_count, 0) AS ascent_count,
       coalesce(c.accident_count, 0) AS accident_count,
       CASE WHEN coalesce(a.ascent_count, 0) > 0
            THEN round(coalesce(c.accident_count, 0) / CAST(a.ascent_count AS DOUBLE) * 1000.0, 2)
            ELSE 0.0 END AS accident_rate
FROM (SELECT CAST(unnest(generate_series(1, 12)) AS INT) AS month_num) m
LEFT JOIN ascents a ON m.month_num = a.month_num
LEFT JOIN accs c ON m.month_num = c.month_num
ORDER BY m.month_num"""


# --- A8/W5: trend windows over a daily risk series (mp_routes.py:1581-1598) --

def q_risk_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per entity bucket: daily series stats + trend = last-7 vs first-7
    average with a +/-5 threshold ('increasing'/'decreasing'/'stable')."""
    e = domain.load_table(spark, sf_dir, "events")
    daily = (e.groupBy((F.col("user_id") % 20).alias("bucket"),
                       _epoch_day("ts").alias("day"))
              .agg(F.avg("value").alias("risk")))
    w = Window.partitionBy("bucket").orderBy("day")
    wn = Window.partitionBy("bucket")
    first7 = F.avg(F.when(F.col("rn") <= 7, F.col("risk"))).over(wn)
    last7 = F.avg(F.when(F.col("rn") > F.col("n_days") - 7, F.col("risk"))).over(wn)
    enriched = (daily.withColumn("rn", F.row_number().over(w))
                     .withColumn("n_days", F.count(F.lit(1)).over(wn))
                     .withColumn("first7", first7)
                     .withColumn("last7", last7))
    agg = enriched.groupBy("bucket").agg(
        F.round(F.avg("risk"), 6).alias("avg_risk"),
        F.round(F.min("risk"), 6).alias("min_risk"),
        F.round(F.max("risk"), 6).alias("max_risk"),
        F.round(F.first("first7"), 6).alias("first7_avg"),
        F.round(F.first("last7"), 6).alias("last7_avg"),
    )
    trend = (F.when(F.col("last7_avg") - F.col("first7_avg") > 5.0, "increasing")
              .when(F.col("first7_avg") - F.col("last7_avg") > 5.0, "decreasing")
              .otherwise("stable"))
    return agg.withColumn("trend", trend).orderBy("bucket")


def sql_risk_trend() -> str:
    return f"""
WITH daily AS (
  SELECT user_id % 20 AS bucket, {_sql_epoch_day('ts')} AS day,
         avg(value) AS risk
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT bucket, day, risk,
         row_number() OVER (PARTITION BY bucket ORDER BY day) AS rn,
         count(*) OVER (PARTITION BY bucket) AS n_days
  FROM daily
),
per_bucket AS (
  SELECT bucket,
         round(avg(risk), 6) AS avg_risk,
         round(min(risk), 6) AS min_risk,
         round(max(risk), 6) AS max_risk,
         round(avg(CASE WHEN rn <= 7 THEN risk END), 6) AS first7_avg,
         round(avg(CASE WHEN rn > n_days - 7 THEN risk END), 6) AS last7_avg
  FROM ranked GROUP BY bucket
)
SELECT bucket, avg_risk, min_risk, max_risk, first7_avg, last7_avg,
       CASE WHEN last7_avg - first7_avg > 5.0 THEN 'increasing'
            WHEN first7_avg - last7_avg > 5.0 THEN 'decreasing'
            ELSE 'stable' END AS trend
FROM per_bucket ORDER BY bucket"""


# --- K21/K22: hourly risk adjustment + conditions text (mp_routes.py:1303-90) -

BASE_RISK = 30.0


def hourly_conditions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly weather per bucket derived from events; mirrors the Open-Meteo
    hourly forecast feeding the time-of-day endpoint."""
    e = domain.load_table(spark, sf_dir, "events")
    agg = (e.groupBy((F.col("user_id") % 20).alias("bucket"),
                     _hour_of_day("ts").alias("hour"))
            .agg(F.avg("value").alias("v"), F.max("value").alias("vmax")))
    return agg.select(
        "bucket", "hour",
        ((F.col("v") % 50.0) - 18.0).alias("temp"),
        (F.col("v") % 7.0).alias("precip"),
        ((F.col("v") * 3.0) % 22.0).alias("wind"),
        ((F.col("vmax") * 3.0) % 25.0).alias("gust"),
        (F.lit(200.0) + (F.col("v") * 40.0) % 9800.0).alias("visibility"),
    )


_SQL_HOURLY = f"""
hourly AS (
  SELECT bucket, hour,
         (v % 50.0) - 18.0 AS temp,
         v % 7.0 AS precip,
         (v * 3.0) % 22.0 AS wind,
         (vmax * 3.0) % 25.0 AS gust,
         200.0 + (v * 40.0) % 9800.0 AS visibility
  FROM (
    SELECT user_id % 20 AS bucket, {_sql_hour('ts')} AS hour,
           avg(value) AS v, max(value) AS vmax
    FROM events GROUP BY 1, 2
  )
)"""


def _risk_adjustment(c):
    temp, precip, wind, gust, vis = (c("temp"), c("precip"), c("wind"),
                                     c("gust"), c("visibility"))
    adj = F.lit(0.0)
    adj = adj + (F.when(temp < -15, 15.0).when(temp < -5, 8.0)
                  .when(temp > 30, 5.0).otherwise(0.0))
    adj = adj + (F.when(precip > 5, 20.0).when(precip > 1, 10.0)
                  .when(precip > 0.2, 3.0).otherwise(0.0))
    adj = adj + (F.when(gust > 20, 15.0)
                  .when(wind > 15, 10.0).when(wind > 10, 5.0).otherwise(0.0))
    adj = adj + (F.when(vis < 1000, 10.0).when(vis < 5000, 5.0).otherwise(0.0))
    return adj


def q_hourly_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K21 additive CASE deltas on a base risk, clamped to [0,100], with the
    K22 conditions summary and K23 Fahrenheit conversion."""
    h = hourly_conditions_df(spark, sf_dir)
    adj = _risk_adjustment(F.col)
    risk = F.least(F.greatest(F.lit(BASE_RISK) + adj, F.lit(0.0)), F.lit(100.0))
    conditions = F.concat_ws(
        ", ",
        F.when(F.col("temp") < -10, F.lit("Very Cold"))
         .when(F.col("temp") > 25, F.lit("Hot")),
        F.when(F.col("precip") > 1, F.lit("Rain/Snow")),
        F.when(F.col("wind") > 10, F.lit("Windy")),
        F.when(F.col("visibility") < 5000, F.lit("Low Visibility")),
    )
    is_climbable = ((risk < 70) & (F.col("precip") < 5)
                    & (F.col("wind") < 20) & (F.col("gust") < 20)
                    & (F.col("hour") >= 6) & (F.col("hour") <= 18))
    return h.select(
        "bucket", F.col("hour").cast("int").alias("hour"),
        F.round(risk, 6).alias("hourly_risk"),
        F.round(K.c_to_f("temp"), 6).alias("temp_f"),
        F.when(conditions == "", F.lit("Clear")).otherwise(conditions)
         .alias("conditions"),
        is_climbable.alias("is_climbable"),
    ).orderBy("bucket", "hour")


def sql_hourly_risk() -> str:
    adj = """(
      (CASE WHEN temp < -15 THEN 15.0 WHEN temp < -5 THEN 8.0
            WHEN temp > 30 THEN 5.0 ELSE 0.0 END)
    + (CASE WHEN precip > 5 THEN 20.0 WHEN precip > 1 THEN 10.0
            WHEN precip > 0.2 THEN 3.0 ELSE 0.0 END)
    + (CASE WHEN gust > 20 THEN 15.0 WHEN wind > 15 THEN 10.0
            WHEN wind > 10 THEN 5.0 ELSE 0.0 END)
    + (CASE WHEN visibility < 1000 THEN 10.0 WHEN visibility < 5000 THEN 5.0
            ELSE 0.0 END))"""
    risk = f"least(greatest({BASE_RISK} + {adj}, 0.0), 100.0)"
    conditions = """concat_ws(', ',
      CASE WHEN temp < -10 THEN 'Very Cold' WHEN temp > 25 THEN 'Hot' END,
      CASE WHEN precip > 1 THEN 'Rain/Snow' END,
      CASE WHEN wind > 10 THEN 'Windy' END,
      CASE WHEN visibility < 5000 THEN 'Low Visibility' END)"""
    return f"""
WITH {_SQL_HOURLY.strip()}
SELECT bucket, CAST(hour AS INT) AS hour,
       round({risk}, 6) AS hourly_risk,
       round(temp * (9.0/5.0) + 32.0, 6) AS temp_f,
       CASE WHEN {conditions} = '' THEN 'Clear' ELSE {conditions} END AS conditions,
       ({risk} < 70 AND precip < 5 AND wind < 20 AND gust < 20
        AND hour >= 6 AND hour <= 18) AS is_climbable
FROM hourly ORDER BY bucket, hour"""


# --- W3: climbing-window detection (gaps-and-islands, mp_routes.py:1392) -----

def q_climbing_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive runs (>= 2h) of climbable hours per bucket -> window
    start/end/duration/avg risk.  Classic sessionization: island id =
    hour - row_number over climbable hours."""
    h = hourly_conditions_df(spark, sf_dir)
    adj = _risk_adjustment(F.col)
    risk = F.least(F.greatest(F.lit(BASE_RISK) + adj, F.lit(0.0)), F.lit(100.0))
    is_climbable = ((risk < 70) & (F.col("precip") < 5)
                    & (F.col("wind") < 20) & (F.col("gust") < 20)
                    & (F.col("hour") >= 6) & (F.col("hour") <= 18))
    hh = h.select("bucket", "hour", risk.alias("risk"),
                  is_climbable.alias("ok")).filter(F.col("ok"))
    w = Window.partitionBy("bucket").orderBy("hour")
    islands = hh.withColumn("grp", F.col("hour") - F.row_number().over(w))
    return (islands.groupBy("bucket", "grp")
                   .agg(F.min("hour").cast("int").alias("start_hour"),
                        F.max("hour").cast("int").alias("end_hour"),
                        F.count(F.lit(1)).alias("duration_hours"),
                        F.round(F.avg("risk"), 6).alias("avg_risk"))
                   .filter(F.col("duration_hours") >= 2)
                   .select("bucket", "start_hour", "end_hour",
                           "duration_hours", "avg_risk")
                   .orderBy("bucket", "start_hour"))


def sql_climbing_windows() -> str:
    adj = """(
      (CASE WHEN temp < -15 THEN 15.0 WHEN temp < -5 THEN 8.0
            WHEN temp > 30 THEN 5.0 ELSE 0.0 END)
    + (CASE WHEN precip > 5 THEN 20.0 WHEN precip > 1 THEN 10.0
            WHEN precip > 0.2 THEN 3.0 ELSE 0.0 END)
    + (CASE WHEN gust > 20 THEN 15.0 WHEN wind > 15 THEN 10.0
            WHEN wind > 10 THEN 5.0 ELSE 0.0 END)
    + (CASE WHEN visibility < 1000 THEN 10.0 WHEN visibility < 5000 THEN 5.0
            ELSE 0.0 END))"""
    risk = f"least(greatest({BASE_RISK} + {adj}, 0.0), 100.0)"
    return f"""
WITH {_SQL_HOURLY.strip()},
climbable AS (
  SELECT bucket, hour, {risk} AS risk
  FROM hourly
  WHERE {risk} < 70 AND precip < 5 AND wind < 20 AND gust < 20
    AND hour >= 6 AND hour <= 18
),
islands AS (
  SELECT bucket, hour, risk,
         hour - row_number() OVER (PARTITION BY bucket ORDER BY hour) AS grp
  FROM climbable
)
SELECT bucket, CAST(min(hour) AS INT) AS start_hour,
       CAST(max(hour) AS INT) AS end_hour,
       count(*) AS duration_hours,
       round(avg(risk), 6) AS avg_risk
FROM islands
GROUP BY bucket, grp
HAVING count(*) >= 2
ORDER BY bucket, start_hour"""


# --- A6/A7: weighted archive statistics with cyclical month decay ------------

REF_MONTH = 6


def q_weather_monthly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean/std (population) per bucket with cyclical pseudo-month
    exponential decay weights exp(-min(|m-ref|, 12-|m-ref|)/2.0)
    (weather_service.py:291-478).  Two-pass centered variance (see
    operators/weather.py for why)."""
    e = domain.load_table(spark, sf_dir, "events")
    day_of_series = _epoch_day("ts") - F.lit(19723)  # days since 2024-01-01
    ev = e.select((F.col("user_id") % 20).alias("bucket"),
                  ((day_of_series % 12) + 1).alias("pseudo_month"),
                  ((F.col("value") % 30.0) - 5.0).alias("x"))
    mdist = F.least(F.abs(F.col("pseudo_month") - REF_MONTH),
                    12 - F.abs(F.col("pseudo_month") - REF_MONTH))
    wtd = ev.withColumn("w", F.exp(-mdist.cast("double") / F.lit(2.0)))
    means = wtd.groupBy("bucket").agg(
        F.sum("w").alias("sw"),
        (F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("mx"),
        F.count(F.lit(1)).alias("n_samples"))
    second = (wtd.join(means, "bucket")
                 .groupBy("bucket")
                 .agg(F.first("mx").alias("mx"),
                      F.first("n_samples").alias("n_samples"),
                      (F.sum(F.col("w") * F.pow(F.col("x") - F.col("mx"), 2))
                       / F.first("sw")).alias("vx")))
    return second.select(
        "bucket",
        F.round("mx", 6).alias("weighted_mean"),
        F.round(F.sqrt("vx"), 6).alias("weighted_std"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
    ).orderBy("bucket")


def sql_weather_monthly_stats() -> str:
    return f"""
WITH ev AS (
  SELECT user_id % 20 AS bucket,
         ((({_sql_epoch_day('ts')}) - 19723) % 12) + 1 AS pseudo_month,
         (value % 30.0) - 5.0 AS x
  FROM events
),
wtd AS (
  SELECT bucket, x,
         exp(-CAST(least(abs(pseudo_month - {REF_MONTH}),
                         12 - abs(pseudo_month - {REF_MONTH})) AS DOUBLE) / 2.0) AS w
  FROM ev
),
means AS (
  SELECT bucket, sum(w) AS sw, sum(w * x) / sum(w) AS mx,
         count(*) AS n_samples
  FROM wtd GROUP BY bucket
)
SELECT t.bucket,
       round(m.mx, 6) AS weighted_mean,
       round(sqrt(sum(t.w * pow(t.x - m.mx, 2)) / m.sw), 6) AS weighted_std,
       CAST(m.n_samples AS BIGINT) AS n_samples
FROM wtd t JOIN means m ON t.bucket = m.bucket
GROUP BY t.bucket, m.mx, m.sw, m.n_samples
ORDER BY t.bucket"""


# --- OLAP rollup over the scored surface (beyond-reference) ------------------

def q_risk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level risk summary: ROLLUP(route_type, color_code) over the
    flagship scores — subtotals per type and a grand total in one pass."""
    from . import scoring
    r = domain.routes_df(spark, sf_dir).select("route_id", "route_type")
    s = scoring.risk_scores_df(spark, sf_dir).join(r, "route_id")
    return (s.rollup("route_type", "color_code")
             .agg(F.count(F.lit(1)).alias("n_routes"),
                  F.round(F.avg("risk_score"), 6).alias("avg_risk"),
                  F.round(F.max("risk_score"), 6).alias("max_risk"))
             .orderBy(F.col("route_type").asc_nulls_first(),
                      F.col("color_code").asc_nulls_first()))


def sql_risk_rollup() -> str:
    from . import scoring
    inner = scoring.risk_scores_sql()
    return f"""
WITH scores AS ({inner}),
typed AS (
  SELECT s.route_id, s.risk_score, s.color_code,
         {domain._sql_mod_case('s.route_id', domain.ROUTE_TYPE_BY_MOD)} AS route_type
  FROM scores s
)
SELECT route_type, color_code, count(*) AS n_routes,
       round(avg(risk_score), 6) AS avg_risk,
       round(max(risk_score), 6) AS max_risk
FROM typed
GROUP BY ROLLUP(route_type, color_code)
ORDER BY route_type ASC NULLS FIRST, color_code ASC NULLS FIRST"""


# --- Semi-structured: JSON property extraction over events -------------------

def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON `props` column with per-type stats —
    the semi-structured scan shape (get_json_object stays JVM-side; at
    scale prefer from_json with an explicit schema so the parse happens
    once per row, not per path)."""
    e = domain.load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (e.select("event_type", k.alias("k"))
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum("k").alias("k_sum"),
                  F.round(F.avg(F.col("k").cast("double")), 6)
                   .alias("k_avg"),
                  F.min("k").alias("k_min"),
                  F.max("k").alias("k_max"))
             .orderBy("event_type"))


def sql_events_json_stats() -> str:
    k = "CAST(json_extract(props, '$.k') AS BIGINT)"
    return f"""
SELECT event_type, count(*) AS n_events,
       CAST(sum({k}) AS BIGINT) AS k_sum,
       round(avg(CAST({k} AS DOUBLE)), 6) AS k_avg,
       min({k}) AS k_min, max({k}) AS k_max
FROM events GROUP BY event_type ORDER BY event_type"""


# --- Cardinality + percentile statistics over events -------------------------

def q_events_cardinality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct cardinality and interpolated percentiles per event
    type.  At 100 TB swap count_distinct for approx_count_distinct (HLL)
    and percentile for percentile_approx — kept exact here so the DuckDB
    oracle hash-matches (sketch implementations never agree bit-for-bit)."""
    e = domain.load_table(spark, sf_dir, "events")
    return (e.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n_users"),
                  F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
                  F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
                  F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"))
             .orderBy("event_type"))


def sql_events_cardinality_stats() -> str:
    return """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type"""


def q_events_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations (HLL cardinality, GK percentiles) with a
    self-certifying accuracy contract — the 100 TB form of
    q_events_cardinality_stats, made driver-checkable.

    Sketch implementations never agree bit-for-bit across engines, so the
    query emits EXACT statistics (which DuckDB reproduces) plus booleans
    asserting the Spark-side sketch landed inside its declared tolerance:
    HLL(rsd=2%) within 10% of the exact cardinality (5 sigma), and the GK
    approximate median inside the exact [p45, p55] RANK window
    (accuracy=10000 guarantees rank error 1e-4 << 0.05).  The oracle
    states those contracts as literal ``true``s — a sketch accuracy
    regression therefore breaks the hash gate.

    INTEGER-SAFE certification (VERDICT r4 "what's wrong" #1): `value`
    carries exactly 2 decimals, so every statistic is computed over
    ``vi = round(value*100)`` (int64) ORDER STATISTICS — no interpolated
    doubles anywhere.  The emitted median bracket [p50_lo_c, p50_hi_c]
    is a pair of exact data values in centi-units; the convenience
    ``p50`` double is one shared-expression division of their integer
    sum, exact in IEEE double on both engines; the GK window compare is
    pure int64 arithmetic.  The earlier form hashed Spark `percentile`
    vs DuckDB `quantile_cont` doubles rounded to 6 places — same
    formula, but a p50 within ~1 ulp of a round-6 boundary could
    hash-diverge.  No such boundary exists now.

    Scale note: the exact rank-window legs (row_number per event_type)
    are test-scale certification scaffolding — at 100 TB you ship the
    HLL/GK numbers and certify on a sample; the sketches themselves are
    one map-side-combinable aggregation.
    """
    e = domain.load_table(spark, sf_dir, "events")
    vi = F.round(F.col("value") * 100).cast("bigint")
    base = e.select("event_type", "user_id", "value", vi.alias("vi"))
    agg = (base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.expr("approx_count_distinct(user_id, 0.02)").alias("hll"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("p50_gk"),
    ))
    # exact order statistics at integer ranks (ties harmless: the VALUE at
    # a rank is unique even when row_number tie-breaks arbitrarily).
    # The rank is built with the banded device (rankutil.banded_rank,
    # VERDICT r5 item 4): event_type has cardinality ~5 here, so a plain
    # per-type window would be a handful of single-task sorts; banding by
    # vi div 512 (bounded: value range / 5.12) keeps every sort small.
    from .rankutil import banded_rank
    ranked = banded_rank(
        base.select("event_type", "vi"), ["event_type"],
        band=F.expr("vi div 512"), order_cols=[F.col("vi")],
        rank_name="r")
    j = ranked.join(F.broadcast(agg), "event_type")
    r50lo = F.expr("(n + 1) div 2")
    r50hi = F.expr("(n + 2) div 2")
    r45 = F.greatest(F.lit(1).cast("bigint"), F.expr("(45 * n) div 100"))
    r55 = F.least(F.col("n"), F.expr("(55 * n + 99) div 100"))
    sel = (j.filter((F.col("r") == r50lo) | (F.col("r") == r50hi)
                    | (F.col("r") == r45) | (F.col("r") == r55))
            .groupBy("event_type").agg(
                F.max(F.when(F.col("r") == r50lo, F.col("vi")))
                 .alias("p50_lo_c"),
                F.max(F.when(F.col("r") == r50hi, F.col("vi")))
                 .alias("p50_hi_c"),
                F.max(F.when(F.col("r") == r45, F.col("vi"))).alias("p45_c"),
                F.max(F.when(F.col("r") == r55, F.col("vi"))).alias("p55_c")))
    out = agg.join(F.broadcast(sel), "event_type")
    hll_ok = (F.abs(F.col("hll") - F.col("n_users"))
              <= F.lit(0.10) * F.col("n_users"))
    gk_c = F.round(F.col("p50_gk") * 100).cast("bigint")
    gk_ok = gk_c.between(F.col("p45_c"), F.col("p55_c"))
    return (out.select("event_type", "n_users",
                       hll_ok.alias("hll_within_10pct"),
                       "p50_lo_c", "p50_hi_c",
                       ((F.col("p50_lo_c") + F.col("p50_hi_c")) / F.lit(200.0))
                       .alias("p50"),
                       gk_ok.alias("gk_median_in_rank_window"))
               .orderBy("event_type"))


def sql_events_approx_stats() -> str:
    return """
WITH base AS (
  SELECT event_type, user_id,
         CAST(round(value * 100) AS BIGINT) AS vi
  FROM events
),
cnt AS (
  SELECT event_type, count(*) AS n,
         count(DISTINCT user_id) AS n_users
  FROM base GROUP BY event_type
),
ranked AS (
  SELECT event_type, vi,
         row_number() OVER (PARTITION BY event_type ORDER BY vi) AS r
  FROM base
),
sel AS (
  SELECT r.event_type,
         max(CASE WHEN r.r = (c.n + 1) // 2 THEN r.vi END) AS p50_lo_c,
         max(CASE WHEN r.r = (c.n + 2) // 2 THEN r.vi END) AS p50_hi_c
  FROM ranked r JOIN cnt c USING (event_type)
  GROUP BY r.event_type
)
SELECT c.event_type, c.n_users,
       true AS hll_within_10pct,
       s.p50_lo_c, s.p50_hi_c,
       (s.p50_lo_c + s.p50_hi_c) / 200.0 AS p50,
       true AS gk_median_in_rank_window
FROM cnt c JOIN sel s USING (event_type)
ORDER BY event_type"""


# --- OLAP: pivot + CUBE ------------------------------------------------------

MONTHS = list(range(1, 13))


def q_accidents_month_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accident counts pivoted route_type x month — the wide matrix the
    seasonal dashboards render.  The pivot value set is the fixed 1-12
    month list so the output schema is static (a dynamic pivot would need
    a driver-side distinct; never do that at 100 TB)."""
    a = domain.accidents_df(spark, sf_dir)
    return (a.select("route_type", F.month("accident_date").alias("m"))
             .groupBy("route_type")
             .pivot("m", MONTHS)
             .agg(F.count(F.lit(1)))
             .na.fill(0, [str(m) for m in MONTHS])
             .select("route_type",
                     *[F.col(str(m)).cast("bigint").alias(f"m{m:02d}")
                       for m in MONTHS])
             .orderBy("route_type"))


def sql_accidents_month_pivot() -> str:
    cols = ", ".join(
        f"CAST(sum(CASE WHEN month(accident_date) = {m} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS m{m:02d}"
        for m in MONTHS)
    return f"""{_DOMAIN_WITH}
SELECT route_type, {cols}
FROM accidents GROUP BY route_type ORDER BY route_type"""


def q_risk_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(route_type, color_code): every subtotal combination (rollup's
    superset — includes per-color totals across types) in one pass."""
    from . import scoring
    r = domain.routes_df(spark, sf_dir).select("route_id", "route_type")
    s = scoring.risk_scores_df(spark, sf_dir).join(r, "route_id")
    return (s.cube("route_type", "color_code")
             .agg(F.count(F.lit(1)).alias("n_routes"),
                  F.round(F.avg("risk_score"), 6).alias("avg_risk"))
             .orderBy(F.col("route_type").asc_nulls_first(),
                      F.col("color_code").asc_nulls_first()))


def sql_risk_cube() -> str:
    from . import scoring
    inner = scoring.risk_scores_sql()
    return f"""
WITH scores AS ({inner}),
typed AS (
  SELECT s.route_id, s.risk_score, s.color_code,
         {domain._sql_mod_case('s.route_id', domain.ROUTE_TYPE_BY_MOD)} AS route_type
  FROM scores s
)
SELECT route_type, color_code, count(*) AS n_routes,
       round(avg(risk_score), 6) AS avg_risk
FROM typed
GROUP BY CUBE(route_type, color_code)
ORDER BY route_type ASC NULLS FIRST, color_code ASC NULLS FIRST"""


# --- Cohort retention (first-seen week x activity week) ----------------------
# The canonical product-analytics rollup the reference serves as its usage
# dashboards' backing query (user_tracking endpoints): bucket every user by
# first-seen week, then count how many of each cohort return N weeks later.

RETENTION_EPOCH_DAY = 19723   # epoch day of 2024-01-01 (week-0 anchor)


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle over `events`.

    Weeks are integer day-arithmetic from a fixed epoch (floor(days/7)) —
    no locale/ISO-week semantics, so both engines agree exactly.

    Scale shape: pass 1 is a map-side-combined min-aggregate per user
    (|users| rows out); pass 2 joins the per-user cohort back onto the
    distinct (user, week) activity set — both shuffles key on user_id, so
    Catalyst reuses one exchange; the retention matrix itself is bounded
    by weeks^2 / 2, corpus-size-independent.
    """
    e = domain.load_table(spark, sf_dir, "events")
    # ts is the canonical ns-long (domain.ts_to_nanos); `div` matches
    # DuckDB `//` because the epoch anchor keeps the numerator >= 0
    week = F.expr(f"(ts div {_DAY_NS} - {RETENTION_EPOCH_DAY}) div 7")
    uw = e.select("user_id", week.alias("week")).distinct()
    cohorts = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (uw.join(cohorts, "user_id")
              .withColumn("weeks_since", F.col("week") - F.col("cohort_week"))
              .groupBy("cohort_week", "weeks_since")
              .agg(F.countDistinct("user_id").alias("n_users"))
              .orderBy("cohort_week", "weeks_since"))


def sql_events_retention() -> str:
    week = f"(epoch_ns(ts) // {_DAY_NS} - {RETENTION_EPOCH_DAY}) // 7"
    return f"""
WITH uw AS (
  SELECT DISTINCT user_id, {week} AS week FROM events
),
cohorts AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week, uw.week - c.cohort_week AS weeks_since,
       count(DISTINCT uw.user_id) AS n_users
FROM uw JOIN cohorts c USING (user_id)
GROUP BY c.cohort_week, weeks_since
ORDER BY c.cohort_week, weeks_since"""


# --- Ordered conversion funnel (view -> click -> purchase) -------------------
# The sequential-pattern cousin of the retention triangle: a user
# converts at step k only with a step-k event strictly AFTER their
# earliest step-(k-1) conversion time and within the per-step window.
# All comparisons are int64 nanosecond arithmetic.

FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_STEP_WINDOW_NS = 7 * _DAY_NS   # max gap between consecutive steps


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per funnel step: users reaching it + mean hours from the previous
    step (earliest-qualifying-event semantics, exactly ordered).

    Scale shape: each step is one min-aggregate over that step's events
    joined to the previous step's per-user conversion times — every
    shuffle keys on user_id, so Catalyst reuses one exchange layout; no
    window over the raw event stream, no sessionize-then-filter pass.
    The per-step output is |users| rows, collapsing to |steps| at the end.
    """
    e = domain.load_table(spark, sf_dir, "events") \
              .select("user_id", "event_type", "ts")
    prev = None
    out = []
    for i, step in enumerate(FUNNEL_STEPS):
        ev = e.filter(F.col("event_type") == step)
        if prev is None:
            cur = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            cur = (ev.join(prev.select("user_id",
                                       F.col("t").alias("t_prev")),
                           "user_id")
                     .filter((F.col("ts") > F.col("t_prev"))
                             & (F.col("ts") - F.col("t_prev")
                                <= FUNNEL_STEP_WINDOW_NS))
                     .groupBy("user_id")
                     .agg(F.min("ts").alias("t"),
                          F.first("t_prev").alias("t_prev")))
        hours = (F.col("t") - F.col("t_prev")) / (3_600.0 * 1e9) \
            if prev is not None else F.lit(None).cast("double")
        out.append(cur.agg(
            F.lit(i + 1).cast("int").alias("step_num"),
            F.lit(step).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg(hours), 6).alias("avg_hours_from_prev")))
        prev = cur
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.orderBy("step_num")


def sql_events_funnel() -> str:
    w = FUNNEL_STEP_WINDOW_NS
    steps_sql = []
    prev_cte = None
    for i, step in enumerate(FUNNEL_STEPS):
        name = f"s{i + 1}"
        if prev_cte is None:
            steps_sql.append(
                f"{name} AS (SELECT user_id, min(epoch_ns(ts)) AS t, "
                f"CAST(NULL AS BIGINT) AS t_prev "
                f"FROM events WHERE event_type = '{step}' GROUP BY user_id)")
        else:
            steps_sql.append(
                f"""{name} AS (
  SELECT e.user_id, min(epoch_ns(e.ts)) AS t, any_value(p.t) AS t_prev
  FROM events e JOIN {prev_cte} p USING (user_id)
  WHERE e.event_type = '{step}'
    AND epoch_ns(e.ts) > p.t AND epoch_ns(e.ts) - p.t <= {w}
  GROUP BY e.user_id)""")
        prev_cte = name
    selects = []
    for i, step in enumerate(FUNNEL_STEPS):
        hours = ("round(avg((t - t_prev) / (3600.0 * 1e9)), 6)"
                 if i > 0 else "CAST(NULL AS DOUBLE)")
        selects.append(
            f"SELECT CAST({i + 1} AS INT) AS step_num, '{step}' AS step, "
            f"count(*) AS n_users, {hours} AS avg_hours_from_prev "
            f"FROM s{i + 1}")
    return ("WITH " + ",\n".join(steps_sql) + "\n"
            + "\nUNION ALL\n".join(selects) + "\nORDER BY step_num")


# --- As-of join: error -> latest prior view ----------------------------------
# The time-series join Spark lacks as a primitive (pandas merge_asof /
# QuestDB-DuckDB ASOF JOIN): for each left event, the single most recent
# right event at-or-before it within the same key.  The reference's
# nearest-weather-observation lookups (weather_service.py:113-170 pick the
# closest forecast slot for a request time) are this shape.
#
# Spark formulation: NOT a join at all.  Union both sides with a tag,
# one window sorted on (ts, tag) per user, and `last(value, ignorenulls)`
# carries the right side's most recent timestamp forward onto each left
# row.  One shuffle on the key, one sort — state is a single value per
# partition-row, vs. the band-join/argmax formulation that shuffles both
# sides into a pair blowup and re-aggregates.  At 100 TB the window never
# materializes pairs; skew is bounded by the hottest single user.

def q_events_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every 'error' event: the same user's most recent 'view' at or
    before it (ns-exact), plus the integer-second gap; NULL when the user
    never viewed before the error.  Ties at the exact same ns: the view
    qualifies (at-or-before), matching DuckDB ``ASOF JOIN .. ON v.ts <=
    e.ts`` inclusive semantics — the union sorts the view row first via
    the tag.
    """
    e = domain.load_table(spark, sf_dir, "events")
    views = (e.filter(F.col("event_type") == "view")
              .select("user_id", "ts", F.lit(0).alias("tag"),
                      F.col("ts").alias("v_ts"),
                      F.lit(None).cast("long").alias("event_id")))
    errs = (e.filter(F.col("event_type") == "error")
             .select("user_id", "ts", F.lit(1).alias("tag"),
                     F.lit(None).cast("long").alias("v_ts"), "event_id"))
    w = (Window.partitionBy("user_id").orderBy("ts", "tag")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (views.unionByName(errs)
                 .withColumn("t_view", F.last("v_ts", ignorenulls=True).over(w))
                 .filter(F.col("tag") == 1)
                 .select("event_id", "user_id",
                         F.col("ts").alias("t_err"), "t_view",
                         F.expr("(ts - t_view) div 1000000000")
                          .alias("gap_s"))
                 .orderBy("event_id"))


def sql_events_asof_view() -> str:
    return """
WITH errs AS (
  SELECT event_id, user_id, epoch_ns(ts) AS t_err, ts
  FROM events WHERE event_type = 'error'
),
views AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
)
SELECT e.event_id, e.user_id, e.t_err,
       epoch_ns(v.ts) AS t_view,
       (e.t_err - epoch_ns(v.ts)) // 1000000000 AS gap_s
FROM errs e ASOF LEFT JOIN views v
  ON e.user_id = v.user_id AND v.ts <= e.ts
ORDER BY e.event_id"""


# --- Robust anomaly flags over daily event volumes ---------------------------
# Median/MAD outlier detection in EXACT integer arithmetic: daily counts
# are int64, the median is the LOWER median (the rank-ceil(m/2) element
# under the total order (count, day) — deterministic on ties), MAD is the
# lower median of absolute deviations, and the flag compares
# |n - med| > K * mad in int64.  No floats anywhere, so Spark and DuckDB
# agree bit-for-bit; this is the same exact-rank-window technique that
# certifies events_approx_stats.
#
# Scale shape: pass 1 is a map-side-combined (event_type, day) count —
# output is |types| x |days|, corpus-size-independent; the median/MAD
# windows run per event_type over that bounded frame.  At 100 TB only
# pass 1 touches the corpus.

ANOMALY_K = 3  # flag when |n - med| > K * mad


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): event count, per-type lower median and MAD
    of the daily counts, and an integer-exact |dev| > K*MAD anomaly flag."""
    e = domain.load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type",
                       _epoch_day("ts").alias("day"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("n_events", "day")
    med = (daily.withColumn("rn", F.row_number().over(wo))
                .withColumn("m", F.count(F.lit(1)).over(wt))
                .filter(F.col("rn") == F.expr("(m + 1) div 2"))
                .select("event_type", F.col("n_events").alias("med")))
    dev = (daily.join(F.broadcast(med), "event_type")
                .withColumn("adev", F.abs(F.col("n_events") - F.col("med"))))
    wo2 = wt.orderBy("adev", "day")
    mad = (dev.withColumn("rn", F.row_number().over(wo2))
              .withColumn("m", F.count(F.lit(1)).over(wt))
              .filter(F.col("rn") == F.expr("(m + 1) div 2"))
              .select("event_type", F.col("adev").alias("mad")))
    return (dev.join(F.broadcast(mad), "event_type")
               .select("event_type", "day", "n_events", "med", "mad",
                       (F.col("adev") > ANOMALY_K * F.col("mad"))
                       .alias("is_anomaly"))
               .orderBy("event_type", "day"))


def sql_events_anomaly() -> str:
    day = _sql_epoch_day("ts")
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, count(*) AS n_events
  FROM events GROUP BY event_type, day
),
med AS (
  SELECT event_type, n_events AS med FROM (
    SELECT event_type, n_events,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY n_events, day) AS rn,
           count(*) OVER (PARTITION BY event_type) AS m
    FROM daily)
  WHERE rn = (m + 1) // 2
),
dev AS (
  SELECT d.*, m.med, abs(d.n_events - m.med) AS adev
  FROM daily d JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, adev AS mad FROM (
    SELECT event_type, adev,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY adev, day) AS rn,
           count(*) OVER (PARTITION BY event_type) AS m
    FROM dev)
  WHERE rn = (m + 1) // 2
)
SELECT d.event_type, d.day, d.n_events, d.med, a.mad,
       d.adev > {ANOMALY_K} * a.mad AS is_anomaly
FROM dev d JOIN mad a USING (event_type)
ORDER BY d.event_type, d.day"""


# --- Trailing 7-day rolling volumes (RANGE frame time-series) ----------------
# The ops-dashboard rolling window (reference trend summaries, A8 family)
# as a RANGE-frame window: per (event_type, day), the trailing-7-day
# event count and value sum.  The metric sum is pre-floored to integer
# thousandths BEFORE the frame aggregates it — float accumulation order
# differs between Spark's running-frame evaluator and DuckDB's segment
# tree, so only integer frame-sums are cross-engine exact.
#
# Scale shape: one map-side-combined (type, day) aggregate over the
# corpus; the RANGE window then runs on the bounded daily frame
# (|types| x |days| rows), so the frame scan never touches raw events.

def q_events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): daily count + trailing-7-day (RANGE -6..0)
    count and integer-milli value sum."""
    e = domain.load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", _epoch_day("ts").alias("day"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.expr("CAST(floor(value * 1000) AS BIGINT)"))
                    .alias("v_milli")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rangeBetween(-6, 0))
    return (daily.select(
                "event_type", "day", "n_events",
                F.sum("n_events").over(w).alias("n_7d"),
                F.sum("v_milli").over(w).alias("v_milli_7d"))
                 .orderBy("event_type", "day"))


def sql_events_rolling_7d() -> str:
    day = _sql_epoch_day("ts")
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
  FROM events GROUP BY event_type, day
)
SELECT event_type, day, n_events,
       CAST(sum(n_events) OVER w AS BIGINT) AS n_7d,
       CAST(sum(v_milli) OVER w AS BIGINT) AS v_milli_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day"""


# --- User-journey transition matrix ------------------------------------------
# The Markov-chain view of event streams (the per-user lag/lead pattern):
# for every consecutive event pair within a user's timeline, count the
# (prev_type, next_type) transition and its probability as an exact ppm
# integer.  Ordering is the total order (ts, event_id), so the lead
# window is deterministic under any partitioning.
#
# Scale shape: one shuffle on user_id for the lead window (same keyed
# layout as sessionization/funnel — Catalyst reuses the exchange across
# those queries in a shared job), then a map-side-combined pair count;
# the matrix itself is |types|^2, corpus-size-independent.

def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (prev_type, next_type): transition count + exact ppm share of
    the prev_type's outgoing transitions."""
    e = domain.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.select("user_id", "ts", "event_id",
                      F.col("event_type").alias("prev_type"),
                      F.lead("event_type").over(w).alias("next_type"))
              .filter(F.col("next_type").isNotNull())
              .groupBy("prev_type", "next_type")
              .agg(F.count(F.lit(1)).alias("n")))
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("n_out"))
    return (pairs.join(F.broadcast(tot), "prev_type")
                 .select("prev_type", "next_type", "n",
                         F.expr("(n * 1000000) div n_out").alias("p_ppm"))
                 .orderBy("prev_type", "next_type"))


def sql_events_transitions() -> str:
    return """
WITH pairs AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cnt AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY prev_type, next_type
),
tot AS (SELECT prev_type, sum(n) AS n_out FROM cnt GROUP BY prev_type)
SELECT c.prev_type, c.next_type, c.n,
       CAST(c.n * 1000000 // t.n_out AS BIGINT) AS p_ppm
FROM cnt c JOIN tot t USING (prev_type)
ORDER BY c.prev_type, c.next_type"""


# --- Accident density grid with neighbor smoothing ---------------------------
# The heatmap layer behind a map UI (the reference's radius scans and
# seasonal maps aggregate the same spatial neighborhoods): accidents
# binned to 0.1-degree cells, then a 3x3 box-kernel smoothing pass
# computed by replicating each cell's count to its 9 neighbors and
# re-aggregating — integer counts end-to-end, no KDE floats.
#
# Scale shape: the corpus pass is one map-side-combined cell count;
# smoothing replicates the BOUNDED cell frame (9x) — never the raw
# events — and re-aggregates on the cell key.  This is the standard
# "shift-and-sum" stencil trick that keeps window-free neighborhoods in
# pure groupBy form.

def q_accidents_density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per non-empty 0.1-degree cell: own accident count + 3x3
    neighbor-smoothed count."""
    a = domain.accidents_df(spark, sf_dir)
    cells = (a.select(
                F.expr("CAST(floor(latitude * 10) AS BIGINT)").alias("cx"),
                F.expr("CAST(floor(longitude * 10) AS BIGINT)").alias("cy"))
              .groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n")))
    spread = (cells
              .select("cx", "cy", "n",
                      F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)]))
                       .alias("dx"))
              .select("cx", "cy", "n", "dx",
                      F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)]))
                       .alias("dy"))
              .groupBy((F.col("cx") + F.col("dx")).alias("cx"),
                       (F.col("cy") + F.col("dy")).alias("cy"))
              .agg(F.sum("n").alias("n_smooth")))
    return (cells.join(spread, ["cx", "cy"])
                 .select("cx", "cy", "n", "n_smooth")
                 .orderBy("cx", "cy"))


def sql_accidents_density_grid() -> str:
    return f"""{_DOMAIN_WITH},
cells AS (
  SELECT CAST(floor(latitude * 10) AS BIGINT) AS cx,
         CAST(floor(longitude * 10) AS BIGINT) AS cy,
         count(*) AS n
  FROM accidents GROUP BY cx, cy
),
spread AS (
  SELECT cells.cx + dx.dx AS cx, cells.cy + dy.dy AS cy,
         CAST(sum(n) AS BIGINT) AS n_smooth
  FROM cells,
       (VALUES (-1), (0), (1)) dx(dx),
       (VALUES (-1), (0), (1)) dy(dy)
  GROUP BY 1, 2
)
SELECT c.cx, c.cy, c.n, s.n_smooth
FROM cells c JOIN spread s USING (cx, cy)
ORDER BY c.cx, c.cy"""


# --- Exact dyadic EWMA over per-user event windows ---------------------------
# The batch, oracle-exact sibling of the streaming EMA state operator
# (streaming/stateful.py): per user, an exponentially weighted moving
# average of the last EMA_WINDOW event values with dyadic weights
# 2^(len-1-i) (most recent heaviest), normalized by 2^len - 1.  Dyadic
# weights make the whole computation BIGINT-exact — no float recursion,
# so Spark and DuckDB agree bitwise (the alpha=0.2 float recursion of the
# streaming form cannot be oracle-checked; this form can).
#
# Scale shape: one shuffle on user_id; the ordered window carries a
# bounded ROWS frame (16), and the weighted sum is a Horner fold
# (acc*2 + x) over the frame's collected list — JVM-side higher-order
# function, no UDF, no per-row Python.  Emitting only each user's final
# row keeps the result |users|-grain.

EMA_WINDOW = 16


def q_events_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    milli = F.expr("CAST(floor(value * 1000) AS BIGINT)")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-(EMA_WINDOW - 1), 0))
    wlast = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    rows = (e.select("user_id", "ts", "event_id", milli.alias("v"))
             .withColumn("arr", F.collect_list("v").over(w))
             .withColumn("rn", F.row_number().over(wlast))
             .filter(F.col("rn") == 1))
    # Horner fold over the frame reversed (most recent first): the i-th
    # most recent value gets weight 2^(len-1-i); denominator 2^len - 1
    num = F.expr("aggregate(reverse(arr), 0L, (acc, x) -> acc * 2 + x)")
    return (rows.select(
                "user_id",
                F.size("arr").cast("int").alias("ema_len"),
                num.alias("ema_num"),
                F.expr("aggregate(reverse(arr), 0L, (acc, x) -> acc * 2 + x) "
                       "* 1000000 div (shiftleft(1L, size(arr)) - 1)")
                 .alias("ema_ppm"))
                .orderBy("user_id"))


def sql_events_ema() -> str:
    return f"""
WITH vals AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000) AS BIGINT) AS v
  FROM events
),
framed AS (
  SELECT user_id,
         list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {EMA_WINDOW - 1} PRECEDING
                       AND CURRENT ROW) AS arr,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM vals
)
SELECT user_id,
       CAST(len(arr) AS INT) AS ema_len,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(arr)),
                        (acc, x) -> acc * 2 + x) AS BIGINT) AS ema_num,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_reverse(arr)),
                        (acc, x) -> acc * 2 + x)
            * 1000000 // ((CAST(1 AS BIGINT) << len(arr)) - 1) AS BIGINT)
         AS ema_ppm
FROM framed WHERE rn = 1
ORDER BY user_id"""


# --- A/B experiment readout: two-proportion z-test per event type ------------
# The experimentation-analysis primitive: users split into cohorts by a
# deterministic hash (user_id % 2 — the assignment a real experiment
# framework would persist), per event type compare the HEAVY-USER rate
# (fraction of cohort users with >= AB_HEAVY_N events of the type; plain
# reach saturates at 100% on this corpus) with the pooled two-proportion
# z-test  z = (pA - pB) / sqrt(p(1-p)(1/nA + 1/nB)).
# Counts are exact; the float z evaluates once per event type (bounded
# cells) from identical expression text in both engines and floors to
# integer micro-units, the NB-classifier determinism convention.  A
# degenerate pool rate (0 or 1) yields NULL z / significant = false in
# both engines instead of a divide-by-zero.
#
# Scale shape: two map-side-combined aggregates (cohort sizes, per-
# (type, cohort) heavy-user counts) — the z arithmetic runs on a
# |event types| frame.

AB_Z_CRIT_MICRO = 1_960_000   # 1.96 in micro-units (95% two-sided)
AB_HEAVY_N = 15               # "heavy user" threshold per event type


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct().withColumn(
        "cohort", (F.col("user_id") % 2).cast("int"))
    sizes = users.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    size_row = sizes.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("cohort") == 1, F.col("n"))).alias("n_b"))
    heavy = (e.groupBy("event_type", "user_id")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .filter(F.col("cnt") >= AB_HEAVY_N)
              .withColumn("cohort", (F.col("user_id") % 2).cast("int"))
              .groupBy("event_type")
              .agg(F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
                    .cast("bigint").alias("conv_a"),
                   F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
                    .cast("bigint").alias("conv_b")))
    j = heavy.crossJoin(F.broadcast(size_row))
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = (pa - pb) / F.sqrt(pool * (F.lit(1.0) - pool)
                           * (F.lit(1.0) / F.col("n_a")
                              + F.lit(1.0) / F.col("n_b")))
    z_micro = F.when((pool > 0) & (pool < 1),
                     F.floor(F.lit(1e6) * z).cast("bigint"))
    return (j.select(
                "event_type", "conv_a", "n_a", "conv_b", "n_b",
                F.expr("conv_a * 1000000 div n_a").alias("rate_a_ppm"),
                F.expr("conv_b * 1000000 div n_b").alias("rate_b_ppm"),
                z_micro.alias("z_micro"),
                F.coalesce(F.abs(z_micro) > AB_Z_CRIT_MICRO,
                           F.lit(False)).alias("significant"))
             .orderBy("event_type"))


def sql_events_ab_test() -> str:
    zexpr = """floor(1000000.0 * ((conv_a / n_a - conv_b / n_b)
         / sqrt(((conv_a + conv_b) / (n_a + n_b))
                * (1.0 - (conv_a + conv_b) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b))))"""
    guard = ("(conv_a + conv_b) > 0 AND (conv_a + conv_b) < (n_a + n_b)")
    return f"""
WITH users AS (
  SELECT DISTINCT user_id, CAST(user_id % 2 AS INT) AS cohort FROM events
),
sizes AS (
  SELECT max(CASE WHEN cohort = 0 THEN n END) AS n_a,
         max(CASE WHEN cohort = 1 THEN n END) AS n_b
  FROM (SELECT cohort, count(*) AS n FROM users GROUP BY cohort)
),
heavy AS (
  SELECT event_type,
         CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM (SELECT event_type, user_id, CAST(user_id % 2 AS INT) AS cohort
        FROM events GROUP BY event_type, user_id
        HAVING count(*) >= {AB_HEAVY_N})
  GROUP BY event_type
)
SELECT event_type, conv_a, n_a, conv_b, n_b,
       CAST(conv_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
       CAST(conv_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
       CAST(CASE WHEN {guard} THEN {zexpr} END AS BIGINT) AS z_micro,
       coalesce(abs(CAST(CASE WHEN {guard} THEN {zexpr} END AS BIGINT))
                > {AB_Z_CRIT_MICRO}, false) AS significant
FROM heavy CROSS JOIN sizes
ORDER BY event_type"""


# --- Star-schema revenue rollup (the TPC-H Q5 plan shape) --------------------
# The canonical warehouse star join the engine must plan well at 100 TB:
# fact lineitem ⋈ orders (both large — shuffle hash/sort-merge on the
# order key, the one unavoidable fact-side exchange) ⋈ customer
# (dimension; AQE picks broadcast vs shuffle from its real size) ⋈
# nation ⋈ region (tiny dims, explicit broadcast).  The date predicate
# sits on orders BEFORE the fact join so Catalyst pushes it into the
# orders scan and the fact exchange carries one year, not seven.
#
# Revenue is summed in integer micro-units — cents x (1000 - discount
# per-mille) — because a float SUM's accumulation order differs between
# engines; floor() of identical IEEE doubles is bitwise-reproducible.

STAR_YEAR_LO, STAR_YEAR_HI = "1996-01-01", "1997-01-01"


def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = domain.load_table(spark, sf_dir, "lineitem")
    o = domain.load_table(spark, sf_dir, "orders")
    c = domain.load_table(spark, sf_dir, "customer")
    n = domain.load_table(spark, sf_dir, "nation")
    r = domain.load_table(spark, sf_dir, "region")
    od = F.col("o_orderdate").cast("date")
    orders_yr = (o.filter((od >= F.lit(STAR_YEAR_LO).cast("date"))
                          & (od < F.lit(STAR_YEAR_HI).cast("date")))
                  .select("o_orderkey", "o_custkey"))
    rev = (F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
           * (F.lit(1000).cast("long")
              - F.expr("CAST(floor(l_discount * 1000) AS BIGINT)")))
    return (li.select("l_orderkey", rev.alias("rev_micro"))
              .join(orders_yr, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c.select("c_custkey", "c_nationkey"),
                    F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n.select("n_nationkey", "n_name",
                                         "n_regionkey")),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(r.select("r_regionkey", "r_name")),
                    F.col("n_regionkey") == F.col("r_regionkey"))
              .groupBy("r_name", "n_name")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"),
                   F.sum("rev_micro").alias("revenue_micro"))
              .orderBy(F.col("revenue_micro").desc(), F.col("n_name")))


def sql_star_revenue() -> str:
    return f"""
SELECT r.r_name, n.n_name,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)
                * (1000 - CAST(floor(l.l_discount * 1000) AS BIGINT)))
            AS BIGINT) AS revenue_micro
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE CAST(o.o_orderdate AS DATE) >= DATE '{STAR_YEAR_LO}'
  AND CAST(o.o_orderdate AS DATE) <  DATE '{STAR_YEAR_HI}'
GROUP BY r.r_name, n.n_name
ORDER BY revenue_micro DESC, n.n_name"""


# --- SCD Type-2 dimension build + point-in-time enrichment -------------------
# The warehouse pattern the reference's historical_predictions table
# gestures at (a per-day score history, S9): track a mutable attribute as
# validity intervals and join facts AGAINST THE STATE IN EFFECT AT FACT
# TIME.  Dimension: each user's 'signup' events carry the changing
# attribute (the value tier, floored to integer milli-units); SCD2
# intervals come from one lead() window per user — [ts, next_ts), the
# last interval open-ended.  Facts: 'purchase' events, enriched via a
# point-in-time join (user equi-key + interval predicate; purchases
# before the first signup keep NULL state — the left-join contract).
#
# Scale shape: the interval build is one partitioned window over the
# CHANGE stream (dimension-sized, not fact-sized); the PIT join is an
# equi-join on user_id with a residual range predicate — hash-partitioned
# by user, no broadcast of the fact side, no interval explosion.  Because
# intervals partition each user's timeline, every fact matches at most
# one dimension row in both engines (no dedup pass needed).

def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (e.filter(F.col("event_type") == "signup")
            .select("user_id", F.col("ts").alias("valid_from"),
                    "event_id",
                    F.expr("CAST(floor(value * 1000) AS BIGINT)")
                     .alias("tier_milli"))
            .withColumn(
                "valid_to",
                F.lead("valid_from").over(
                    Window.partitionBy("user_id")
                          .orderBy("valid_from", "event_id")))
            .drop("event_id"))
    fact = (e.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("f_user"),
                     F.col("ts").alias("t_purchase")))
    cond = ((F.col("f_user") == F.col("user_id"))
            & (F.col("t_purchase") >= F.col("valid_from"))
            & (F.col("valid_to").isNull()
               | (F.col("t_purchase") < F.col("valid_to"))))
    return (fact.join(dim, cond, "left")
                .select("purchase_id", F.col("f_user").alias("user_id"),
                        "t_purchase", "tier_milli", "valid_from", "valid_to")
                .orderBy("purchase_id"))


def sql_events_scd2() -> str:
    return """
WITH dim AS (
  SELECT user_id,
         epoch_ns(ts) AS valid_from,
         lead(epoch_ns(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to,
         CAST(floor(value * 1000) AS BIGINT) AS tier_milli
  FROM events WHERE event_type = 'signup'
),
fact AS (
  SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS t_purchase
  FROM events WHERE event_type = 'purchase'
)
SELECT f.purchase_id, f.user_id, f.t_purchase,
       d.tier_milli, d.valid_from, d.valid_to
FROM fact f LEFT JOIN dim d
  ON f.user_id = d.user_id
 AND f.t_purchase >= d.valid_from
 AND (d.valid_to IS NULL OR f.t_purchase < d.valid_to)
ORDER BY f.purchase_id"""


# --- Pareto skyline (banded distributed prefix-min) --------------------------
# The classic multi-criteria operator the reference's "best climbing
# window = min avg risk" (W3) generalizes to: the set of orders no other
# order dominates on (price LOW, recency HIGH).  Domination is strict
# integer comparison — price in cents, recency in epoch days — so both
# engines agree bitwise.
#
# Algorithm (no global sort, no quadratic pair join):
#   1. collapse to per-price min(negday) — a map-side-combined groupBy
#      (same-price rows: only the most recent can survive);
#   2. band by price div BAND_W (value-range bands, constant count);
#      per-band running min over price order = a PARTITIONED window;
#   3. cross-band offsets = running min over the bounded band-minima
#      frame (|bands| rows — the only single-partition step, constant-
#      sized like the equi-depth histogram's rank reconstruction);
#   4. survivor iff its negday beats every strictly-lower price's min;
#      ties re-join all orders carrying a surviving (price, day) pair.
# The oracle states the same set declaratively via NOT EXISTS.

SKYLINE_BAND_CENTS = 5_000_000  # 50k-dollar price bands (bounded count)


def q_orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = domain.load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lit("1970-01-01").cast("date")).cast("long")
    base = o.select("o_orderkey", cents.alias("price_cents"),
                    day.alias("order_day"))
    # (1) per-price champion: only the most recent order at a price point
    # can be undominated
    pts = (base.groupBy("price_cents")
               .agg(F.max("order_day").alias("best_day")))
    banded = pts.withColumn(
        "band", F.expr(f"price_cents div {SKYLINE_BAND_CENTS}"))
    # (2) within-band running max of best_day over STRICTLY lower prices
    wb = (Window.partitionBy("band").orderBy("price_cents")
                .rowsBetween(Window.unboundedPreceding, -1))
    # (3) cross-band offsets on the bounded band frame.  Constant-key
    # (`% 1`) window: bmax is <= price_range / SKYLINE_BAND_CENTS rows
    # (a few hundred at any corpus size — value-range bands, not data-
    # dependent), so the single task is bounded by construction
    # (CONSTANT_KEY_WINDOW_ALLOWLIST, tests/test_plans.py).
    bmax = banded.groupBy("band").agg(F.max("best_day").alias("band_max"))
    wo = (Window.partitionBy(F.col("band") % 1).orderBy("band")
                .rowsBetween(Window.unboundedPreceding, -1))
    offs = bmax.withColumn("prev_band_max", F.max("band_max").over(wo)) \
               .select("band", "prev_band_max")
    sky = (banded.withColumn("in_band_max", F.max("best_day").over(wb))
                 .join(F.broadcast(offs), "band")
                 .withColumn("prev_max",
                             F.greatest(F.coalesce("in_band_max",
                                                   F.lit(-1).cast("long")),
                                        F.coalesce("prev_band_max",
                                                   F.lit(-1).cast("long"))))
                 .filter(F.col("best_day") > F.col("prev_max"))
                 .select("price_cents", F.col("best_day").alias("order_day")))
    # (4) all orders carrying a surviving (price, day) point
    return (base.join(sky, ["price_cents", "order_day"])
                .select("o_orderkey", "price_cents", "order_day")
                .orderBy("o_orderkey"))


def sql_orders_skyline() -> str:
    return """
WITH o2 AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS order_day
  FROM orders
)
SELECT a.o_orderkey, a.price_cents, a.order_day
FROM o2 a
WHERE NOT EXISTS (
  SELECT 1 FROM o2 b
  WHERE b.price_cents <= a.price_cents AND b.order_day >= a.order_day
    AND (b.price_cents < a.price_cents OR b.order_day > a.order_day)
)
ORDER BY a.o_orderkey"""


# --- Multi-touch linear attribution -----------------------------------------
# The marketing-analytics workhorse the asof view (single-touch) cannot
# express: each purchase's value splits EQUALLY across every view/click
# touch by the same user in the trailing attribution window, and the
# readout sums attributed value per channel.  Exactness contract: the
# purchase value floors to integer micro-units once, each touch gets
# value div n, and the remainder goes to the EARLIEST (value mod n)
# touches — integer arithmetic end-to-end, total attributed value per
# purchase telescopes back to exactly floor(value * 1e6).
#
# Scale shape: the touch join is a user_id equi-join with a residual
# time-band predicate (bounded per-user touch lists — never a cross
# join); the per-purchase split is one row_number window at (purchase,
# touch) grain; the channel rollup is map-side combined.  At 100 TB this
# is the standard sessionized-attribution layout: shuffle by user once,
# window within, aggregate small.

ATTR_WINDOW_DAYS = 7
_ATTR_WINDOW_NS = ATTR_WINDOW_DAYS * 86_400 * 1_000_000_000


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    buys = (e.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("b_user"),
                     F.col("ts").alias("b_ts"),
                     F.expr("CAST(floor(value * 1000000) AS BIGINT)")
                      .alias("value_micro")))
    touches = (e.filter(F.col("event_type").isin("view", "click"))
                .select(F.col("user_id").alias("t_user"),
                        F.col("event_type").alias("channel"),
                        F.col("ts").alias("t_ts"),
                        F.col("event_id").alias("touch_id")))
    cond = ((F.col("b_user") == F.col("t_user"))
            & (F.col("t_ts") <= F.col("b_ts"))
            & (F.col("t_ts") > F.col("b_ts") - F.lit(_ATTR_WINDOW_NS)))
    pairs = buys.join(touches, cond)
    w = Window.partitionBy("purchase_id").orderBy("t_ts", "touch_id")
    wn = Window.partitionBy("purchase_id")
    attributed = (pairs
                  .withColumn("i", F.row_number().over(w))
                  .withColumn("n", F.count(F.lit(1)).over(wn))
                  .withColumn(
                      "attr_micro",
                      F.expr("value_micro div n")
                      + F.when(F.col("i") <= F.expr("value_micro % n"),
                               F.lit(1).cast("long")).otherwise(F.lit(0))))
    return (attributed.groupBy("channel")
                      .agg(F.count(F.lit(1)).cast("bigint")
                            .alias("n_touches"),
                           F.count_distinct("purchase_id")
                            .cast("bigint").alias("n_purchases"),
                           F.sum("attr_micro").alias("attributed_micro"))
                      .orderBy("channel"))


def sql_events_attribution() -> str:
    return f"""
WITH buys AS (
  SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS b_ts,
         CAST(floor(value * 1000000) AS BIGINT) AS value_micro
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, event_type AS channel, epoch_ns(ts) AS t_ts,
         event_id AS touch_id
  FROM events WHERE event_type IN ('view', 'click')
),
pairs AS (
  SELECT b.purchase_id, b.value_micro, t.channel, t.t_ts, t.touch_id
  FROM buys b JOIN touches t
    ON b.user_id = t.user_id
   AND t.t_ts <= b.b_ts
   AND t.t_ts > b.b_ts - {_ATTR_WINDOW_NS}
),
split AS (
  SELECT channel, purchase_id,
         value_micro // n
         + CASE WHEN i <= value_micro % n THEN 1 ELSE 0 END AS attr_micro
  FROM (SELECT *,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY t_ts, touch_id) AS i,
               count(*) OVER (PARTITION BY purchase_id) AS n
        FROM pairs)
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       CAST(sum(attr_micro) AS BIGINT) AS attributed_micro
FROM split
GROUP BY channel
ORDER BY channel"""


# --- Growth accounting (DAU / new / returning / churned) ---------------------
# The standard product-analytics daily ledger: per day, distinct active
# users, first-time users, returning users, and the users active the
# previous day who did not come back.  All counts are exact BIGINTs from
# one (user, day) distinct pass; "new" rides a broadcast first-seen dim;
# "churned" is prev-day DAU minus the (user, day)x(user, day+1) retained
# join — calendar day arithmetic, not lag(), so a silent day gap yields
# NULL churn instead of mis-attributing it to the next active day.
#
# Scale shape: the only corpus-sized shuffle is the (user, day) distinct;
# every later frame is |days| or |users| sized.

def q_events_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    du = (e.select(_epoch_day("ts").alias("day"), "user_id").distinct())
    first = du.groupBy("user_id").agg(F.min("day").alias("fday"))
    daily = (du.join(F.broadcast(first), "user_id")
               .groupBy("day")
               .agg(F.count(F.lit(1)).cast("bigint").alias("dau"),
                    F.sum(F.when(F.col("fday") == F.col("day"), 1)
                           .otherwise(0)).cast("bigint").alias("new_users")))
    retained = (du.alias("a")
                  .join(du.alias("b"),
                        (F.col("a.user_id") == F.col("b.user_id"))
                        & (F.col("b.day") == F.col("a.day") + 1))
                  .groupBy(F.col("b.day").alias("day"))
                  .agg(F.count(F.lit(1)).cast("bigint").alias("retained")))
    prev = daily.select((F.col("day") + 1).alias("day"),
                        F.col("dau").alias("prev_dau"))
    return (daily
            .join(F.broadcast(prev), "day", "left")
            .join(F.broadcast(retained), "day", "left")
            .select("day", "dau", "new_users",
                    (F.col("dau") - F.col("new_users")).alias("returning"),
                    (F.col("prev_dau")
                     - F.coalesce(F.col("retained"), F.lit(0)))
                    .alias("churned"))
            .orderBy("day"))


def sql_events_growth() -> str:
    day = _sql_epoch_day("ts")
    return f"""
WITH du AS (SELECT DISTINCT {day} AS day, user_id FROM events),
first AS (SELECT user_id, min(day) AS fday FROM du GROUP BY user_id),
daily AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau,
         CAST(sum(CASE WHEN f.fday = du.day THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users
  FROM du JOIN first f USING (user_id) GROUP BY day
),
retained AS (
  SELECT b.day AS day, CAST(count(*) AS BIGINT) AS retained
  FROM du a JOIN du b ON a.user_id = b.user_id AND b.day = a.day + 1
  GROUP BY b.day
)
SELECT d.day, d.dau, d.new_users,
       d.dau - d.new_users AS returning,
       p.dau - coalesce(r.retained, 0) AS churned
FROM daily d
LEFT JOIN daily p ON p.day = d.day - 1
LEFT JOIN retained r ON r.day = d.day
ORDER BY d.day"""


# --- Trailing 7-day distinct users: exact + mergeable-sketch certification ---
# Rolling DISTINCT is the canonical "hard at scale" window metric:
# distinct does not decompose over sliding frames, so production systems
# keep per-day HLL sketches and UNION them per window (sketches merge;
# exact sets do not).  Here both run side by side:
# * exact: each (user, day) contributes to days [day, day+6] via a
#   7-way explode, then one count_distinct per target day — linear
#   blowup bounded by the window length, the exact-certification path;
# * sketch: per-day HLL sketches (datasketches, mergeable) replicated
#   the same way and hll_union_agg'd per window — the O(|days| x 7)
#   merge a 100 TB deployment would run on PRE-AGGREGATED daily state
#   instead of raw events.
# The HLL estimate is engine-specific, so (events_approx_stats
# convention) the registered result carries the exact counts plus a
# pinned boolean asserting the sketch landed within 5% — a sketch
# regression breaks the driver hash gate without putting a
# non-reproducible float in the hash.

ROLLING_DISTINCT_DAYS = 7


def q_events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the HLL leg aggregates the SAME distinct (day, user) frame as
    # the exact leg instead of re-scanning raw events — sketch register
    # state is duplicate-insensitive, so the sketches (and the 5%
    # certification boolean) are bit-identical to the raw-events form,
    # and the raw corpus is read one time fewer.  (An explicit
    # checkpoint of `du` was A/B-measured at +0.2s here — the
    # materialization job costs more than the saved re-derivations at
    # this frame size — so the lineage recompute stays.)
    # One SQL text: a handful of py4j calls, not one per Column call
    # (ARCHITECTURE.md, "The Python boundary").
    last = ROLLING_DISTINCT_DAYS - 1
    return spark.sql(f"""
WITH du AS (SELECT DISTINCT ts div {_DAY_NS} AS day, user_id FROM {{e}}),
days AS (SELECT DISTINCT day FROM du),
exact AS (
  SELECT /*+ BROADCAST(d) */ tday,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_7d
  FROM (SELECT user_id, explode(sequence(day, day + {last})) AS tday
        FROM du)
  JOIN (SELECT day AS tday FROM days) d USING (tday)
  GROUP BY tday
),
-- mergeable-sketch leg: per-day sketches, unioned per window
est AS (
  SELECT /*+ BROADCAST(d) */ tday,
         hll_sketch_estimate(hll_union_agg(sk)) AS hll_est
  FROM (SELECT sk, explode(sequence(day, day + {last})) AS tday
        FROM (SELECT day, hll_sketch_agg(user_id) AS sk FROM du
              GROUP BY day))
  JOIN (SELECT day AS tday FROM days) d USING (tday)
  GROUP BY tday
)
SELECT /*+ BROADCAST(est) */ tday AS day, n_distinct_7d,
       abs(hll_est - n_distinct_7d) * 100 <= n_distinct_7d * 5
         AS hll_within_5pct
FROM exact JOIN est USING (tday)
ORDER BY day""", e=domain.load_table(spark, sf_dir, "events"))


def sql_events_rolling_distinct() -> str:
    day = _sql_epoch_day("ts")
    return f"""
WITH du AS (SELECT DISTINCT {day} AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du),
spread AS (
  SELECT du.user_id, du.day + off.off AS tday
  FROM du, (SELECT unnest(range({ROLLING_DISTINCT_DAYS})) AS off) off
)
SELECT s.tday AS day,
       CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_distinct_7d,
       true AS hll_within_5pct
FROM spread s JOIN days d ON s.tday = d.day
GROUP BY s.tday
ORDER BY day"""


# --- Kaplan-Meier survival curve (time to churn) -----------------------------
# The censoring-aware retention statistic: each user's duration is
# last_active_day - first_active_day; users still active on the corpus's
# final day are CENSORED (their churn was never observed), everyone else
# is an event.  KM: S(t) = prod_{t_i <= t} (1 - d_i / n_i) over event
# times, with n_i = users whose duration >= t_i (at risk).
#
# Exactness: d, n, and the censor split are exact BIGINTs.  S(t) is a
# product of rationals whose numerators/denominators overflow int64, so
# the float fold runs over a SORTED ARRAY with an explicit left fold —
# both engines multiply the identical doubles in the identical ascending
# order (the dyadic-EWMA fold convention), then round once to 6 places.
# This sidesteps the running-window float trap (Spark's running-frame
# evaluator vs DuckDB's segment tree accumulate in different orders).
#
# Scale shape: one groupBy(user) for durations, one groupBy(duration)
# for the life table (<= |days| rows), and the fold runs per row over a
# broadcast sorted array of the bounded life table.

def q_events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    du = e.select(_epoch_day("ts").alias("day"), "user_id").distinct()
    maxd = du.agg(F.max("day").alias("m"))
    spans = (du.groupBy("user_id")
               .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
               .crossJoin(F.broadcast(maxd))
               .select("user_id",
                       (F.col("d1") - F.col("d0")).alias("duration"),
                       (F.col("d1") < F.col("m")).cast("int")
                       .alias("event")))
    n_users = spans.count()
    life = (spans.groupBy("duration")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_ending"),
                      F.sum("event").cast("bigint").alias("n_churned")))
    # at risk at t = users with duration >= t: total - cumsum(earlier) —
    # integer running sum on the life table.  Constant-key (`% 1`)
    # window: the life table has <= |observed days| rows (duration is a
    # day count), bounded by the calendar span, not the corpus
    # (CONSTANT_KEY_WINDOW_ALLOWLIST, tests/test_plans.py).
    wo = (Window.partitionBy(F.col("duration") % 1).orderBy("duration")
                .rowsBetween(Window.unboundedPreceding, -1))
    lt = (life.withColumn(
              "n_at_risk",
              F.lit(n_users).cast("bigint")
              - F.coalesce(F.sum("n_ending").over(wo),
                           F.lit(0).cast("bigint"))))
    # sorted-array fold: S(t) = foldl over {(t_i, d_i, n_i) : t_i <= t}
    steps = lt.agg(F.array_sort(F.collect_list(
        F.struct("duration", "n_churned", "n_at_risk"))).alias("steps"))
    km = F.expr(
        "round(aggregate(filter(steps, x -> x.duration <= duration), "
        "CAST(1.0 AS DOUBLE), "
        "(acc, x) -> acc * (1.0 - CAST(x.n_churned AS DOUBLE) "
        "/ CAST(x.n_at_risk AS DOUBLE))), 6)")
    return (lt.crossJoin(F.broadcast(steps))
              .select("duration", "n_at_risk", "n_churned",
                      (F.col("n_ending") - F.col("n_churned"))
                      .alias("n_censored"),
                      km.alias("km_survival"))
              .orderBy("duration"))


def sql_events_survival() -> str:
    day = _sql_epoch_day("ts")
    return f"""
WITH du AS (SELECT DISTINCT {day} AS day, user_id FROM events),
maxd AS (SELECT max(day) AS m FROM du),
spans AS (
  SELECT user_id, max(day) - min(day) AS duration,
         CASE WHEN max(day) < (SELECT m FROM maxd) THEN 1 ELSE 0 END AS event
  FROM du GROUP BY user_id
),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM spans),
life AS (
  SELECT duration, CAST(count(*) AS BIGINT) AS n_ending,
         CAST(sum(event) AS BIGINT) AS n_churned
  FROM spans GROUP BY duration
),
lt AS (
  SELECT duration, n_ending, n_churned,
         CAST((SELECT n_users FROM nu)
              - coalesce(sum(n_ending) OVER (ORDER BY duration
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS n_at_risk
  FROM life
),
steps AS (
  SELECT list_sort(list(struct_pack(duration := duration,
                                    n_churned := n_churned,
                                    n_at_risk := n_at_risk))) AS s
  FROM lt
)
SELECT lt.duration, lt.n_at_risk, lt.n_churned,
       lt.n_ending - lt.n_churned AS n_censored,
       round(list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE),
           list_transform(
             list_filter(steps.s, x -> x.duration <= lt.duration),
             x -> 1.0 - CAST(x.n_churned AS DOUBLE)
                  / CAST(x.n_at_risk AS DOUBLE))),
         (acc, x) -> acc * x), 6) AS km_survival
FROM lt CROSS JOIN steps
ORDER BY lt.duration"""


# --- LTV cohort triangle (cumulative spend per acquisition cohort) -----------
# The SaaS-finance companion of events_growth: customers cohort by their
# FIRST order month, and each (cohort, age) cell carries that cohort's
# order count, spend, cumulative spend, and cumulative LTV per user —
# the classic lower-triangular LTV table.  All money is integer cents;
# the cumulative sum is an integer running frame PARTITIONED BY COHORT
# (many independent partitions, no global window); LTV divides with
# integer floor so both engines agree bitwise.
#
# Scale shape: one groupBy(customer) for cohorts (broadcast back), one
# (cohort, age) aggregate, then windows over the bounded triangle
# (|months|^2 / 2 rows).

def q_orders_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = domain.load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    midx = (F.year(od) - 1995) * 12 + F.month(od) - 1
    base = o.select("o_custkey", midx.alias("m"),
                    F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
                     .alias("cents"))
    cohort = base.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    sizes = cohort.groupBy("cohort_m").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users"))
    cells = (base.join(F.broadcast(cohort), "o_custkey")
                 .groupBy("cohort_m", (F.col("m") - F.col("cohort_m"))
                          .alias("age_m"))
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                      F.sum("cents").alias("spend_cents")))
    wc = (Window.partitionBy("cohort_m").orderBy("age_m")
                .rowsBetween(Window.unboundedPreceding, 0))
    return (cells.withColumn("cum_spend_cents",
                             F.sum("spend_cents").over(wc))
                 .join(F.broadcast(sizes), "cohort_m")
                 .select("cohort_m", "age_m", "n_orders", "spend_cents",
                         "cum_spend_cents", "cohort_users",
                         F.expr("cum_spend_cents div cohort_users")
                          .alias("ltv_cents_per_user"))
                 .orderBy("cohort_m", "age_m"))


def sql_orders_ltv_cohorts() -> str:
    return """
WITH base AS (
  SELECT o_custkey,
         (year(CAST(o_orderdate AS DATE)) - 1995) * 12
         + month(CAST(o_orderdate AS DATE)) - 1 AS m,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cohort AS (SELECT o_custkey, min(m) AS cohort_m FROM base GROUP BY o_custkey),
sizes AS (SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_users
          FROM cohort GROUP BY cohort_m),
cells AS (
  SELECT c.cohort_m, b.m - c.cohort_m AS age_m,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(b.cents) AS BIGINT) AS spend_cents
  FROM base b JOIN cohort c USING (o_custkey)
  GROUP BY c.cohort_m, b.m - c.cohort_m
),
cum AS (
  SELECT cohort_m, age_m, n_orders, spend_cents,
         CAST(sum(spend_cents) OVER (PARTITION BY cohort_m ORDER BY age_m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_spend_cents
  FROM cells
)
SELECT c.cohort_m, c.age_m, c.n_orders, c.spend_cents, c.cum_spend_cents,
       s.cohort_users,
       c.cum_spend_cents // s.cohort_users AS ltv_cents_per_user
FROM cum c JOIN sizes s USING (cohort_m)
ORDER BY c.cohort_m, c.age_m"""


# --- Sequential pattern mining: top event-type trigrams ----------------------
# The path-analysis primitive ("what do users do right before an
# error?"): per user, consecutive event-type triples in time order, the
# corpus-wide trigram counts, and the global top-k paths.  Triples come
# from two lead() steps on the per-user ordered window (no self-joins);
# the top-k is a TakeOrderedAndProject over the bounded
# |event_types|^3 frame.

PATH_TOP_K = 20


def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (e.select("user_id", "ts", "event_id", "event_type")
            .withColumn("e2", F.lead("event_type", 1).over(w))
            .withColumn("e3", F.lead("event_type", 2).over(w))
            .filter(F.col("e3").isNotNull()))
    return (tri.groupBy(F.col("event_type").alias("step1"),
                        F.col("e2").alias("step2"),
                        F.col("e3").alias("step3"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"),
                    F.count_distinct("user_id").cast("bigint")
                     .alias("n_users"))
               .orderBy(F.col("n_paths").desc(), "step1", "step2", "step3")
               .limit(PATH_TOP_K))


def sql_events_paths() -> str:
    return f"""
WITH tri AS (
  SELECT user_id, event_type AS step1,
         lead(event_type, 1) OVER w AS step2,
         lead(event_type, 2) OVER w AS step3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT step1, step2, step3,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri WHERE step3 IS NOT NULL
GROUP BY step1, step2, step3
ORDER BY n_paths DESC, step1, step2, step3
LIMIT {PATH_TOP_K}"""


# --- Period-over-period growth (MoM / YoY) -----------------------------------
# The finance-dashboard staple: monthly revenue with month-over-month
# and year-over-year growth in ppm.  Revenue is exact integer cents;
# growth divides by (prev div 1e6) so corpus-sized totals never
# multiply (the brand-share overflow convention).  The lag window runs
# on the bounded monthly frame under a constant `% 1` partition key —
# |months| is bounded by the calendar span, not the corpus
# (CONSTANT_KEY_WINDOW_ALLOWLIST, tests/test_plans.py).

def q_orders_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = domain.load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    monthly = (o.select(((F.year(od) - 1995) * 12 + F.month(od) - 1)
                        .alias("m"),
                        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
                         .alias("cents"))
                .groupBy("m")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                     F.sum("cents").alias("rev_cents")))
    w = Window.partitionBy(F.col("m") % 1).orderBy("m")
    grow = (monthly
            .withColumn("prev_m", F.lag("m", 1).over(w))
            .withColumn("prev_rev", F.lag("rev_cents", 1).over(w))
            .withColumn("yoy_m", F.lag("m", 12).over(w))
            .withColumn("yoy_rev", F.lag("rev_cents", 12).over(w)))
    mom = F.when(F.col("prev_m") == F.col("m") - 1,
                 (F.col("rev_cents") - F.col("prev_rev"))
                 / F.greatest(F.expr("prev_rev div 1000000"), F.lit(1)))
    yoy = F.when(F.col("yoy_m") == F.col("m") - 12,
                 (F.col("rev_cents") - F.col("yoy_rev"))
                 / F.greatest(F.expr("yoy_rev div 1000000"), F.lit(1)))
    return (grow.select("m", "n_orders", "rev_cents",
                        F.floor(mom).cast("bigint").alias("mom_ppm"),
                        F.floor(yoy).cast("bigint").alias("yoy_ppm"))
                .orderBy("m"))


def sql_orders_growth() -> str:
    return """
WITH monthly AS (
  SELECT (year(CAST(o_orderdate AS DATE)) - 1995) * 12
         + month(CAST(o_orderdate AS DATE)) - 1 AS m,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
),
grow AS (
  SELECT m, n_orders, rev_cents,
         lag(m, 1) OVER w AS prev_m,
         lag(rev_cents, 1) OVER w AS prev_rev,
         lag(m, 12) OVER w AS yoy_m,
         lag(rev_cents, 12) OVER w AS yoy_rev
  FROM monthly
  WINDOW w AS (ORDER BY m)
)
SELECT m, n_orders, rev_cents,
       CAST(floor(CASE WHEN prev_m = m - 1 THEN
              CAST(rev_cents - prev_rev AS DOUBLE)
              / greatest(prev_rev // 1000000, 1) END) AS BIGINT) AS mom_ppm,
       CAST(floor(CASE WHEN yoy_m = m - 12 THEN
              CAST(rev_cents - yoy_rev AS DOUBLE)
              / greatest(yoy_rev // 1000000, 1) END) AS BIGINT) AS yoy_ppm
FROM grow
ORDER BY m"""


# --- Unpivot (melt): the wide month matrix back to long form -----------------
# The inverse of q_accidents_month_pivot, via the native DataFrame
# unpivot API (SPARK-39876): the wide route_type x m01..m12 matrix melts
# to (route_type, month, n_accidents) long form — the ELT normalization
# step for wide third-party feeds.  Zero cells are kept (the melt is
# schema-driven, not data-driven), so the output is always
# |types| x 12 rows with a static schema.

def q_accidents_month_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q_accidents_month_pivot(spark, sf_dir)
    long = wide.unpivot(
        ids=["route_type"],
        values=[f"m{m:02d}" for m in MONTHS],
        variableColumnName="month_col",
        valueColumnName="n_accidents")
    return (long.select(
                "route_type",
                F.substring("month_col", 2, 2).cast("int").alias("month"),
                F.col("n_accidents").cast("bigint").alias("n_accidents"))
                .orderBy("route_type", "month"))


def sql_accidents_month_unpivot() -> str:
    return f"""{_DOMAIN_WITH},
grid AS (
  SELECT t.route_type, m.m AS month
  FROM (SELECT DISTINCT route_type FROM accidents) t,
       (SELECT unnest(range(1, 13)) AS m) m
)
SELECT g.route_type, CAST(g.month AS INT) AS month,
       CAST(count(a.accident_id) AS BIGINT) AS n_accidents
FROM grid g
LEFT JOIN accidents a
  ON a.route_type = g.route_type AND month(a.accident_date) = g.month
GROUP BY g.route_type, g.month
ORDER BY g.route_type, g.month"""


# --- Peer-relative risk ranking (percent rank within route type) -------------
# The serving-layer framing every score needs ("this route is riskier
# than 87% of sport routes"): rank within the route-type peer group and
# normalize to exact ppm — (rank - 1) * 1e6 div (n - 1), BIGINT
# end-to-end, ties broken by route_id so the rank (and therefore the
# ppm) is deterministic in both engines.
#
# Scale shape (VERDICT r5 item 2): route_type has cardinality ~7 in this
# domain, so a plain PARTITION BY route_type window is a 7-task global
# sort — |routes|/7 rows through one executor at 100 TB.  The per-type
# rank is instead rebuilt with the banded distributed-rank device
# (rankutil.banded_rank): band by a monotone function of the score
# (floor(score*16), so equal scores share a band), rank within
# (route_type, band) — thousands of small independent sorts — and offset
# by the tiny (route_type, band) count table.  Bit-identical to the
# global window (same output, judge-verified pre-refactor), but no task
# ever sees more than one band of one type.  The overflow ADVICE r5 item
# is fixed alongside: peer_rank is BIGINT before the *1e6 multiply.

def q_risk_peer_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import scoring
    from .rankutil import banded_rank
    types = domain.routes_df(spark, sf_dir).select("route_id", "route_type")
    scores = (scoring.risk_scores_df(spark, sf_dir)
              .select("route_id", "risk_score")
              .join(types, "route_id"))
    ranked = banded_rank(
        scores, ["route_type"],
        band=F.floor(F.col("risk_score") * 16),
        order_cols=[F.col("risk_score").desc(), F.col("route_id")],
        rank_name="peer_rank", total_name="n_peers",
        descending_bands=True)
    return (ranked
            .select("route_id", "route_type", "risk_score",
                    F.col("peer_rank").cast("bigint").alias("peer_rank"),
                    F.col("n_peers").cast("bigint").alias("n_peers"),
                    F.expr("CASE WHEN n_peers > 1 THEN "
                           "(CAST(peer_rank AS BIGINT) - 1) * 1000000 "
                           "div (n_peers - 1) "
                           "ELSE 0 END").cast("bigint")
                     .alias("riskier_than_ppm"))
            .orderBy("route_id"))


def sql_risk_peer_rank() -> str:
    from .scoring import risk_scores_sql
    return f"""
WITH scores AS (
  SELECT s.route_id, r.route_type, s.risk_score
  FROM ({risk_scores_sql()}) s
  JOIN ({_DOMAIN_WITH}
        SELECT route_id, route_type FROM routes) r USING (route_id)
),
ranked AS (
  SELECT route_id, route_type, risk_score,
         row_number() OVER (PARTITION BY route_type
                            ORDER BY risk_score DESC, route_id) AS peer_rank,
         count(*) OVER (PARTITION BY route_type) AS n_peers
  FROM scores
)
SELECT route_id, route_type, risk_score,
       CAST(peer_rank AS BIGINT) AS peer_rank,
       CAST(n_peers AS BIGINT) AS n_peers,
       CAST(CASE WHEN n_peers > 1 THEN
              (peer_rank - 1) * 1000000 // (n_peers - 1)
            ELSE 0 END AS BIGINT) AS riskier_than_ppm
FROM ranked
ORDER BY route_id"""


# --- Time-series densification: gap-fill + LOCF ------------------------------
# The warehouse backfill primitive: the (event_type, day) daily series
# densified to EVERY calendar day in the observed range — missing days
# get an explicit zero event count and a last-observation-carried-
# forward value (LOCF), the standard dashboard/feature-store contract
# for irregular series.  The dense grid is |types| x |days| (calendar-
# bounded); LOCF is one last_value(ignorenulls) window per type; all
# values are exact integer milli-units.

def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", _epoch_day("ts").alias("day"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                   F.sum(F.expr("CAST(floor(value * 1000) AS BIGINT)"))
                    .alias("v_milli")))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = daily.select("event_type").distinct()
    grid = (types.crossJoin(F.broadcast(span))
                 .select("event_type",
                         F.explode(F.sequence("d0", "d1")).alias("day")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rowsBetween(Window.unboundedPreceding, 0))
    return (grid.join(daily, ["event_type", "day"], "left")
                .withColumn("n_events",
                            F.coalesce("n_events", F.lit(0).cast("bigint")))
                .withColumn("v_locf_milli",
                            F.last("v_milli", ignorenulls=True).over(w))
                .withColumn("is_gap", F.col("v_milli").isNull())
                .select("event_type", "day", "n_events",
                        "v_locf_milli", "is_gap")
                .orderBy("event_type", "day"))


def sql_events_gapfill() -> str:
    day = _sql_epoch_day("ts")
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v_milli
  FROM events GROUP BY event_type, day
),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
grid AS (
  SELECT t.event_type, s.d0 + g.g AS day
  FROM (SELECT DISTINCT event_type FROM daily) t
  CROSS JOIN span s
  CROSS JOIN (SELECT unnest(range((SELECT d1 - d0 + 1 FROM span))) AS g) g
)
SELECT g.event_type, g.day,
       coalesce(d.n_events, 0) AS n_events,
       last_value(d.v_milli IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf_milli,
       d.v_milli IS NULL AS is_gap
FROM grid g LEFT JOIN daily d
  ON g.event_type = d.event_type AND g.day = d.day
ORDER BY g.event_type, g.day"""


# --- Model calibration (reliability table for the risk surrogate) ------------
# The ML-eval companion of ml_risk_model_cv: bucket routes by PREDICTED
# risk decile (fixed 0..100 range, so buckets are data-independent) and
# compare mean predicted vs mean ACTUAL risk per bucket — the
# reliability diagram's data.  Means are exact: both scores round to 6
# decimals upstream, so round(x * 1e6) is integral, sums are BIGINT,
# and the per-bucket mean uses integer floor division.

def q_ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import ml as ML
    m = ML.q_ml_risk_model(spark, sf_dir).select(
        "route_id", "risk_score", "predicted_risk")
    micro_p = F.expr("CAST(round(predicted_risk * 1000000) AS BIGINT)")
    micro_a = F.expr("CAST(round(risk_score * 1000000) AS BIGINT)")
    bucket = F.least(F.lit(9), F.greatest(
        F.lit(0), F.floor(F.col("predicted_risk") / 10).cast("int")))
    return (m.select(bucket.alias("pred_decile"),
                     micro_p.alias("p"), micro_a.alias("a"))
             .groupBy("pred_decile")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_routes"),
                  # floor of a double ratio, NOT integer div: predictions
                  # can be negative and Spark's div truncates while
                  # DuckDB's // floors; the double ratio (sums < 2^53)
                  # floors identically in both engines
                  F.expr("CAST(floor(CAST(sum(p) AS DOUBLE) / count(1)) "
                         "AS BIGINT)").alias("avg_pred_micro"),
                  F.expr("CAST(floor(CAST(sum(a) AS DOUBLE) / count(1)) "
                         "AS BIGINT)").alias("avg_actual_micro"))
             .withColumn("calib_gap_micro",
                         F.col("avg_pred_micro") - F.col("avg_actual_micro"))
             .orderBy("pred_decile"))


def sql_ml_calibration() -> str:
    from ..ml import sql_ml_risk_model
    return f"""
WITH model AS ({sql_ml_risk_model()}),
b AS (
  SELECT least(9, greatest(0,
           CAST(floor(predicted_risk / 10) AS INT))) AS pred_decile,
         CAST(round(predicted_risk * 1000000) AS BIGINT) AS p,
         CAST(round(risk_score * 1000000) AS BIGINT) AS a
  FROM model
)
SELECT pred_decile,
       CAST(count(*) AS BIGINT) AS n_routes,
       CAST(floor(CAST(sum(p) AS DOUBLE) / count(*)) AS BIGINT)
         AS avg_pred_micro,
       CAST(floor(CAST(sum(a) AS DOUBLE) / count(*)) AS BIGINT)
         AS avg_actual_micro,
       CAST(floor(CAST(sum(p) AS DOUBLE) / count(*))
            - floor(CAST(sum(a) AS DOUBLE) / count(*)) AS BIGINT)
         AS calib_gap_micro
FROM b GROUP BY pred_decile
ORDER BY pred_decile"""


# --- Time-weighted average (TimescaleDB time_weight('LOCF') analog) ----------
# The hypertable-rollup operator the reference's event stream implies but
# never materializes: each observation's value holds until the SAME
# series' next observation (LOCF), so the series mean must weight each
# value by how long it was current — the irregular-sampling analog of
# A6's day-weighted mean (reference weather_service.py's weighted
# windows).  Series grain is (user_id, event_type): the window partitions
# by the natural series key, so parallelism scales with |users|x|types|
# (NOT a handful of global per-type sorts — the 100 TB-safe grain; a
# type-level TWAP would interleave values from different users, which is
# semantically wrong for LOCF anyway).  Exactness: values are milli-units
# (floor(value*1000)), durations are truncated-div milliseconds from the
# ns-long timestamps (both engines truncate nonnegative integer division
# identically), the weighted sum rides DECIMAL(38,0)/HUGEINT so no term
# or series can overflow, and the final mean is a floor division of
# nonnegative integers.  The open-ended last observation of each series
# carries no duration and is excluded (count(dur) = n_obs - 1).

def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id", "event_type")
               .orderBy("ts", "event_id"))
    seg = (e.select("user_id", "event_type", "ts", "event_id",
                    F.expr("CAST(floor(value * 1000) AS BIGINT)")
                     .alias("v_milli"))
            .withColumn("lead_ts", F.lead("ts").over(w))
            .withColumn("dur_ms", F.expr("(lead_ts - ts) div 1000000"))
            .where(F.col("dur_ms").isNotNull()))
    return (seg.groupBy("user_id", "event_type")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_segments"),
                    F.sum("dur_ms").cast("bigint").alias("total_dur_ms"),
                    F.expr("CAST(sum(CAST(v_milli AS DECIMAL(38,0)) * dur_ms)"
                           " div sum(dur_ms) AS BIGINT)").alias("twap_milli"))
               .orderBy("user_id", "event_type"))


def sql_events_twap() -> str:
    return """
WITH seg AS (
  SELECT user_id, event_type,
         CAST(floor(value * 1000) AS BIGINT) AS v_milli,
         (epoch_ns(lead(ts) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id)
           ) - epoch_ns(ts)) // 1000000 AS dur_ms
  FROM events
)
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
       CAST(sum(CAST(v_milli AS HUGEINT) * dur_ms) // sum(dur_ms)
            AS BIGINT) AS twap_milli
FROM seg WHERE dur_ms IS NOT NULL
GROUP BY user_id, event_type
ORDER BY user_id, event_type"""


# --- Markov stationary distribution of the event-type chain (round 7) ------------
# Where does the user journey settle?  The per-user next-event chain
# (q_events_transitions) induces a |types|×|types| transition matrix in
# exact ppm; its stationary distribution comes from MARKOV_ITERS rounds
# of integer power iteration on that BOUNDED matrix — the corpus is
# touched once (the per-user lead() pass), every iteration is a matvec
# on <= |types|² rows.  Truncating div loses < |types| ppm of mass per
# round (documented, identical in both engines); the output keeps the
# observed first-event share alongside for drift comparison.

MARKOV_ITERS = 10


def q_events_markov_stationary(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cache the |types|^2-bounded pair counts: tot is consumed by BOTH
    # t and the observed-share leg, and without the cache each consumer
    # re-embedded the corpus scan + per-user lead() window (the r8 plan
    # snapshot showed 4 parquet scans where the design says one)
    pairs = (e.select("user_id", "ts", "event_id",
                      F.col("event_type").alias("prev_type"),
                      F.lead("event_type").over(w).alias("next_type"))
              .filter(F.col("next_type").isNotNull())
              .groupBy("prev_type", "next_type")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
              .cache())
    tot = pairs.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("n_out"))
    t = (pairs.join(F.broadcast(tot), "prev_type")
              .select("prev_type", "next_type",
                      F.expr("(n * 1000000) div n_out").alias("p_ppm"))
              .cache())
    n_types = t.select("prev_type").distinct().count()
    v = (t.select(F.col("prev_type").alias("event_type")).distinct()
          .select("event_type",
                  F.lit(1_000_000 // n_types).cast("long").alias("v")))
    for _ in range(MARKOV_ITERS):
        v = (t.join(v.select(F.col("event_type").alias("prev_type"),
                             F.col("v").alias("vp")), "prev_type")
              .groupBy(F.col("next_type").alias("event_type"))
              .agg(F.expr("CAST(sum(vp * p_ppm) div 1000000 AS BIGINT)")
                    .alias("v")))
    share = (tot.crossJoin(F.broadcast(
                 tot.agg(F.sum("n_out").alias("tt"))))
                .select(F.col("prev_type").alias("event_type"),
                        F.expr("CAST(n_out * 1000000 div tt AS BIGINT)")
                         .alias("observed_share_ppm")))
    return (v.join(F.broadcast(share), "event_type")
             .select("event_type", F.col("v").alias("stationary_ppm"),
                     "observed_share_ppm")
             .orderBy("event_type"))


def sql_events_markov_stationary() -> str:
    iters = []
    prev = "v0"
    for k in range(1, MARKOV_ITERS + 1):
        iters.append(f"""
v{k} AS MATERIALIZED (
  SELECT t.next_type AS event_type,
         CAST(sum(p.v * t.p_ppm) // 1000000 AS BIGINT) AS v
  FROM t JOIN {prev} p ON t.prev_type = p.event_type
  GROUP BY 1
)""")
        prev = f"v{k}"
    return f"""
WITH pairs AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT event_type AS prev_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events)
  WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS MATERIALIZED (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out
        FROM pairs GROUP BY 1),
t AS MATERIALIZED (
  SELECT p.prev_type, p.next_type, (p.n * 1000000) // tt.n_out AS p_ppm
  FROM pairs p JOIN tot tt USING (prev_type)
),
v0 AS (
  SELECT prev_type AS event_type,
         CAST(1000000 // (SELECT count(DISTINCT prev_type) FROM t)
              AS BIGINT) AS v
  FROM (SELECT DISTINCT prev_type FROM t)
),
{",".join(x.strip() for x in iters)},
share AS (
  SELECT prev_type AS event_type,
         CAST(n_out * 1000000 // (SELECT sum(n_out) FROM tot) AS BIGINT)
           AS observed_share_ppm
  FROM tot
)
SELECT v.event_type, v.v AS stationary_ppm, s.observed_share_ppm
FROM {prev} v JOIN share s USING (event_type)
ORDER BY v.event_type"""


# --- Session bounce-rate daily rollup (round 7) -----------------------------------
# The engagement classic on top of the session operator: per day (of
# session start), how many 1-hour-gap sessions there were, how many
# bounced (single event), and the exact engagement intensity.  Reuses
# the session_window batch form (streaming/sessions.py) so the session
# boundaries are THE engine's session semantics; everything downstream
# is integer epoch-second arithmetic (duration excludes the gap
# padding session_window adds to `end`).

def q_events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sessions import user_sessions_batch
    s = (user_sessions_batch(spark, sf_dir)
         .select(F.col("session_start").cast("long").alias("start_s"),
                 F.col("session_end").cast("long").alias("end_s"),
                 F.col("n_events").cast("bigint").alias("n_events")))
    day = F.expr("start_s div 86400")
    return (s.groupBy(day.alias("day"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                  F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                   .cast("bigint").alias("n_bounce"),
                  F.sum("n_events").cast("bigint").alias("n_events"),
                  F.sum(F.expr("end_s - start_s - 3600")).cast("bigint")
                   .alias("active_s"))
             .select("day", "n_sessions", "n_bounce",
                     F.expr("CAST(n_bounce * 1000000 div n_sessions"
                            " AS BIGINT)").alias("bounce_ppm"),
                     F.expr("CAST(n_events * 1000 div n_sessions"
                            " AS BIGINT)").alias("events_per_session_milli"),
                     "active_s")
             .orderBy("day"))


def sql_events_bounce_rate() -> str:
    return """
WITH ev AS (
  SELECT user_id, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS et_s
  FROM events
),
marked AS (
  SELECT user_id, et_s,
         CASE WHEN et_s - lag(et_s) OVER (PARTITION BY user_id ORDER BY et_s)
                   > 3600 THEN 1 ELSE 0 END AS brk
  FROM ev
),
sess AS (
  SELECT user_id, et_s,
         sum(brk) OVER (PARTITION BY user_id ORDER BY et_s
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
per AS (
  SELECT min(et_s) AS start_s, max(et_s) AS last_s,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT start_s // 86400 AS day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounce,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS bounce_ppm,
       CAST(sum(n_events) * 1000 // count(*) AS BIGINT)
         AS events_per_session_milli,
       CAST(sum(last_s - start_s) AS BIGINT) AS active_s
FROM per
GROUP BY 1
ORDER BY 1"""


# --- Funnel time-to-convert percentiles (round 7) ----------------------------------
# q_events_funnel reports the MEAN step delay; conversion-rate work
# reads the percentiles (a long-tailed p99 with a healthy median is a
# different problem than a shifted median).  Same earliest-qualifying
# step semantics as the funnel; per consecutive step pair the exact
# p50/p90/p99 of the per-user delay in whole seconds, computed with
# rankutil.banded_rank over day-width delay bands — the 7-day step
# window bounds the band count at 8, so the order statistics never
# leave partitioned windows.

def q_events_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    e = domain.load_table(spark, sf_dir, "events") \
              .select("user_id", "event_type", "ts")
    prev = None
    legs = []
    for i, step in enumerate(FUNNEL_STEPS):
        ev = e.filter(F.col("event_type") == step)
        if prev is None:
            cur = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            cur = (ev.join(prev.select("user_id",
                                       F.col("t").alias("t_prev")),
                           "user_id")
                     .filter((F.col("ts") > F.col("t_prev"))
                             & (F.col("ts") - F.col("t_prev")
                                <= FUNNEL_STEP_WINDOW_NS))
                     .groupBy("user_id")
                     .agg(F.min("ts").alias("t"),
                          F.first("t_prev").alias("t_prev")))
            legs.append(cur.select(
                F.lit(f"{FUNNEL_STEPS[i - 1]}->{step}").alias("step_pair"),
                "user_id",
                F.expr("(t - t_prev) div 1000000000").alias("delta_s")))
        prev = cur
    deltas = legs[0]
    for leg in legs[1:]:
        deltas = deltas.unionByName(leg)
    ranked = banded_rank(
        deltas, ["step_pair"], F.expr("delta_s div 86400"),
        [F.col("delta_s").asc(), F.col("user_id").asc()],
        rank_name="rnk", total_name="n")
    picks = [
        F.expr(f"CAST(max(CASE WHEN rnk = ((n - 1) * {p} div 100 + 1)"
               f" THEN delta_s END) AS BIGINT)").alias(f"p{p}_s")
        for p in (50, 90, 99)]
    return (ranked.groupBy("step_pair")
                  .agg(F.max("n").cast("bigint").alias("n_users"), *picks)
                  .orderBy("step_pair"))


def sql_events_funnel_ttc() -> str:
    w = FUNNEL_STEP_WINDOW_NS
    s1, s2, s3 = FUNNEL_STEPS
    picks = ", ".join(
        f"CAST(max(CASE WHEN rnk = ((n - 1) * {p} // 100 + 1)"
        f" THEN delta_s END) AS BIGINT) AS p{p}_s"
        for p in (50, 90, 99))
    return f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events
),
step1 AS (
  SELECT user_id, min(ts) AS t FROM ev
  WHERE event_type = '{s1}' GROUP BY 1
),
step2 AS (
  SELECT e.user_id, min(e.ts) AS t, min(s.t) AS t_prev
  FROM ev e JOIN step1 s ON e.user_id = s.user_id
  WHERE e.event_type = '{s2}' AND e.ts > s.t AND e.ts - s.t <= {w}
  GROUP BY 1
),
step3 AS (
  SELECT e.user_id, min(e.ts) AS t, min(s.t) AS t_prev
  FROM ev e JOIN step2 s ON e.user_id = s.user_id
  WHERE e.event_type = '{s3}' AND e.ts > s.t AND e.ts - s.t <= {w}
  GROUP BY 1
),
deltas AS (
  SELECT '{s1}->{s2}' AS step_pair, user_id,
         (t - t_prev) // 1000000000 AS delta_s FROM step2
  UNION ALL
  SELECT '{s2}->{s3}' AS step_pair, user_id,
         (t - t_prev) // 1000000000 AS delta_s FROM step3
),
ranked AS (
  SELECT step_pair, delta_s,
         row_number() OVER (PARTITION BY step_pair
                            ORDER BY delta_s, user_id) AS rnk,
         count(*) OVER (PARTITION BY step_pair) AS n
  FROM deltas
)
SELECT step_pair, CAST(max(n) AS BIGINT) AS n_users, {picks}
FROM ranked
GROUP BY step_pair
ORDER BY step_pair"""


# --- DAU/MAU stickiness (round 7) ---------------------------------------------------
# The growth-accounting ratio: per day, distinct daily actives over
# distinct 30-day actives.  MAU is computed EXACTLY without a per-day
# corpus rescan: each user's distinct active days explode to the <=
# STICKY_WINDOW days they cover (a bounded x30 expansion of the
# per-user DISTINCT-day table, linear in the corpus), then one distinct
# count per covered day.  No window over the event stream; both legs
# are map-side-combined distinct aggregates.

STICKY_WINDOW = 30


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    du = (e.select(F.expr(f"ts div {_DAY_NS}").alias("day"), "user_id")
           .distinct())
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint")
                                 .alias("dau"))
    covered = (du.select("user_id", F.explode(F.expr(
                   f"sequence(day, day + {STICKY_WINDOW - 1})"))
                   .alias("day"))
                 .distinct())
    mau = covered.groupBy("day").agg(F.count(F.lit(1)).cast("bigint")
                                      .alias("mau"))
    # report only days with observed activity (the covered table also
    # extends past the last active day)
    return (dau.join(mau, "day")
               .select("day", "dau", "mau",
                       F.expr("CAST(dau * 1000000 div mau AS BIGINT)")
                        .alias("stickiness_ppm"))
               .orderBy("day"))


def sql_events_stickiness() -> str:
    return f"""
WITH du AS (
  SELECT DISTINCT epoch_ns(ts) // {_DAY_NS} AS day, user_id FROM events
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
covered AS (
  SELECT DISTINCT user_id, day + off AS day
  FROM du, (SELECT unnest(generate_series(0, {STICKY_WINDOW - 1}))
            AS off)
),
mau AS (SELECT day, CAST(count(*) AS BIGINT) AS mau
        FROM covered GROUP BY 1)
SELECT d.day, d.dau, m.mau,
       CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_ppm
FROM dau d JOIN mau m USING (day)
ORDER BY d.day"""


# --- Burst velocity per user (round 7) ------------------------------------------------
# The fraud/abuse primitive: the densest 60-second burst in each user's
# event stream.  One per-USER range window over the ns timestamps
# (value-range frame, so tie order is irrelevant and the count is
# deterministic) — corpus-cardinality partitions, no global sort; the
# per-user max + earliest-attaining-ts collapse is a map-side-combined
# aggregate pair.

BURST_WINDOW_NS = 60 * 1_000_000_000


def q_events_burst_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (domain.load_table(spark, sf_dir, "events")
         .select("user_id", F.col("ts").cast("long").alias("ts")))
    w = (Window.partitionBy("user_id").orderBy("ts")
               .rangeBetween(0, BURST_WINDOW_NS - 1))
    b = e.withColumn("burst", F.count(F.lit(1)).over(w))
    mx = b.groupBy("user_id").agg(F.max("burst").alias("max_burst"))
    return (b.join(mx, "user_id")
             .filter(F.col("burst") == F.col("max_burst"))
             .groupBy("user_id")
             .agg(F.max("burst").cast("bigint").alias("max_burst_60s"),
                  F.min("ts").cast("bigint").alias("at_ts_ns"))
             .orderBy("user_id"))


def sql_events_burst_velocity() -> str:
    return f"""
WITH e AS (
  SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts FROM events
),
b AS (
  SELECT user_id, ts,
         count(*) OVER (PARTITION BY user_id ORDER BY ts
                        RANGE BETWEEN CURRENT ROW
                        AND {BURST_WINDOW_NS - 1} FOLLOWING) AS burst
  FROM e
),
mx AS (SELECT user_id, max(burst) AS max_burst FROM b GROUP BY 1)
SELECT b.user_id,
       CAST(max(b.burst) AS BIGINT) AS max_burst_60s,
       CAST(min(b.ts) AS BIGINT) AS at_ts_ns
FROM b JOIN mx ON b.user_id = mx.user_id AND b.burst = mx.max_burst
GROUP BY b.user_id
ORDER BY b.user_id"""


# --- Daily event-mix entropy (round 7) -------------------------------------------------
# Drift signal: the Shannon entropy of the event-type mix per day.  A
# traffic day that collapses to one type (bot flood, pipeline stuck on
# retries) drops to ~0; a healthy mix sits near ln(|types|).  The
# micro-nat determinism device (text.py NB models): ln is evaluated
# ONCE per bounded (day, type) cell as floor(1e6 * ln(n/n_t)), and the
# entropy Σ n_t * w_t div n is exact BIGINT arithmetic after that.

def q_events_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    cell = (e.groupBy(F.expr(f"ts div {_DAY_NS}").alias("day"),
                      "event_type")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_t")))
    day_tot = cell.groupBy("day").agg(F.sum("n_t").cast("bigint")
                                       .alias("n"))
    terms = (cell.join(day_tot, "day")
                 .select("day", "n", "n_t",
                         F.floor(F.lit(1e6) * F.log(
                             F.col("n").cast("double")
                             / F.col("n_t").cast("double")))
                          .cast("bigint").alias("w")))
    return (terms.groupBy("day")
                 .agg(F.max("n").alias("n_events"),
                      F.count(F.lit(1)).cast("bigint").alias("n_types"),
                      F.expr("CAST(sum(n_t * w) div max(n) AS BIGINT)")
                       .alias("entropy_micro_nats"))
                 .orderBy("day"))


def sql_events_entropy_daily() -> str:
    return f"""
WITH cell AS (
  SELECT epoch_ns(ts) // {_DAY_NS} AS day, event_type,
         CAST(count(*) AS BIGINT) AS n_t
  FROM events GROUP BY 1, 2
),
day_tot AS (SELECT day, CAST(sum(n_t) AS BIGINT) AS n
            FROM cell GROUP BY 1),
terms AS (
  SELECT c.day, t.n, c.n_t,
         CAST(floor(1e6 * ln(CAST(t.n AS DOUBLE)
                             / CAST(c.n_t AS DOUBLE))) AS BIGINT) AS w
  FROM cell c JOIN day_tot t USING (day)
)
SELECT day, max(n) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(n_t * w) // max(n) AS BIGINT) AS entropy_micro_nats
FROM terms
GROUP BY day
ORDER BY day"""


# --- Lag-k autocorrelation of the daily event series (round 8) -------------------
# The seasonality/trend diagnostic forecasting stacks read first: the
# exact Pearson autocorrelation of the daily event-count series at lags
# 1..ACF_MAX_LAG.  One corpus pass builds the bounded |days|-row daily
# grid (map-side combined); every lag then self-joins that TINY grid —
# corpus-size-independent work after the first aggregate.
#
# Exactness: all sums ride BIGINT/DECIMAL(38,0); the only doubles are
# the final r = num / sqrt(dx * dy), computed ONCE per bounded lag row
# with the identical operation order in both engines (round-once rule;
# sqrt is IEEE-correctly-rounded on both runtimes).

ACF_MAX_LAG = 7


def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    g = (e.select(_epoch_day("ts").alias("day"))
          .groupBy("day")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    a = (g.select("day", F.col("c").alias("x"),
                  F.explode(F.expr(
                      f"sequence(1, {ACF_MAX_LAG})")).alias("lag"))
          .withColumn("day2", F.col("day") + F.col("lag")))
    b = g.select(F.col("day").alias("day2"), F.col("c").alias("y"))
    dec = "DECIMAL(38,0)"
    s = (a.join(b, "day2")
          .groupBy("lag")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
               F.sum("x").cast("bigint").alias("sx"),
               F.sum("y").cast("bigint").alias("sy"),
               F.sum(F.expr(f"CAST(x AS {dec}) * y")).alias("sxy"),
               F.sum(F.expr(f"CAST(x AS {dec}) * x")).alias("sxx"),
               F.sum(F.expr(f"CAST(y AS {dec}) * y")).alias("syy")))
    num = f"(CAST(n_pairs AS {dec}) * sxy - CAST(sx AS {dec}) * sy)"
    dx = f"(CAST(n_pairs AS {dec}) * sxx - CAST(sx AS {dec}) * sx)"
    dy = f"(CAST(n_pairs AS {dec}) * syy - CAST(sy AS {dec}) * sy)"
    r = (f"CASE WHEN {dx} > 0 AND {dy} > 0 THEN "
         f"CAST(floor(CAST({num} AS DOUBLE) * 1000000 / "
         f"(sqrt(CAST({dx} AS DOUBLE)) * sqrt(CAST({dy} AS DOUBLE))))"
         f" AS BIGINT) ELSE NULL END")
    return (s.select(F.col("lag").cast("int").alias("lag"), "n_pairs",
                     F.expr(r).alias("acf_micro"))
             .orderBy("lag"))


def sql_events_autocorr() -> str:
    num = "(CAST(n_pairs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)"
    dx = "(CAST(n_pairs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)"
    dy = "(CAST(n_pairs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)"
    return f"""
WITH g AS (
  SELECT {_sql_epoch_day('ts')} AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
s AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(a.c) AS BIGINT) AS sx,
         CAST(sum(b.c) AS BIGINT) AS sy,
         sum(CAST(a.c AS HUGEINT) * b.c) AS sxy,
         sum(CAST(a.c AS HUGEINT) * a.c) AS sxx,
         sum(CAST(b.c AS HUGEINT) * b.c) AS syy
  FROM g a
  CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag)
  JOIN g b ON b.day = a.day + lag
  GROUP BY 1
)
SELECT CAST(lag AS INT) AS lag, n_pairs,
       CASE WHEN {dx} > 0 AND {dy} > 0 THEN
         CAST(floor(CAST({num} AS DOUBLE) * 1000000 /
              (sqrt(CAST({dx} AS DOUBLE)) * sqrt(CAST({dy} AS DOUBLE))))
              AS BIGINT)
       ELSE NULL END AS acf_micro
FROM s
ORDER BY lag"""


# --- Per-type Gini concentration of user activity (round 8) ----------------------
# The engagement-inequality readout: per event type, the exact Gini
# coefficient of per-user event counts — 0 = every user contributes
# equally, ->1 = a handful of power users generate everything.  The
# classic rank formula on counts sorted ascending (rank i = 1..n,
# deterministic user_id tiebreak shared with the oracle):
#   G_ppm = (2 * sum(i * x_i) - (n + 1) * sum(x)) * 1e6
#           div (n * sum(x))
# all BIGINT/DECIMAL-exact; the global-per-type rank rides
# rankutil.banded_rank over count-magnitude bands — no per-type
# single-task sort (event_type cardinality ~5).

def q_events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    e = domain.load_table(spark, sf_dir, "events")
    cnt = (e.groupBy("event_type", "user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("x")))
    ranked = banded_rank(
        cnt, ["event_type"],
        band=F.length(F.expr("CAST(x AS STRING)")),
        order_cols=[F.col("x").asc(), F.col("user_id").asc()],
        rank_name="i", total_name="n_users")
    dec = "DECIMAL(38,0)"
    return (ranked.groupBy("event_type")
            .agg(F.max("n_users").cast("bigint").alias("n_users"),
                 F.sum("x").cast("bigint").alias("total_events"),
                 F.sum(F.expr(f"CAST(i AS {dec}) * x")).alias("six"))
            .select("event_type", "n_users", "total_events",
                    F.expr(f"CAST((2 * six - (CAST(n_users AS {dec}) + 1)"
                           f" * total_events) * 1000000"
                           f" div (CAST(n_users AS {dec}) * total_events)"
                           f" AS BIGINT)").alias("gini_ppm"))
            .orderBy("event_type"))


def sql_events_user_gini() -> str:
    return """
WITH cnt AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, x,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY x, user_id) AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
           AS n_users
  FROM cnt
)
SELECT event_type,
       CAST(max(n_users) AS BIGINT) AS n_users,
       CAST(sum(x) AS BIGINT) AS total_events,
       CAST((2 * sum(CAST(i AS HUGEINT) * x)
             - (CAST(max(n_users) AS HUGEINT) + 1) * sum(x)) * 1000000
            // (CAST(max(n_users) AS HUGEINT) * sum(x)) AS BIGINT)
         AS gini_ppm
FROM ranked
GROUP BY 1
ORDER BY 1"""


# --- Hour-of-week activity heatmap (round 9) -----------------------------------
# The (day-of-week x hour) traffic grid every ops dashboard opens with:
# per event type, the 168-cell activity share in ppm.  Complements the
# STL dow decomposition (events_seasonality) with the raw intra-day
# shape the decomposition marginalizes away.
#
# Scale shape: ONE corpus scan -> keyed (type, dow, hour) hash
# aggregate (map-side combine; output bounded at |types| x 168); type
# totals re-aggregate the bounded grid itself (no second scan) and come
# back via a broadcast join.  Nothing scales with corpus size except
# the first partial aggregate.

_HOUR_NS = 3_600 * 1_000_000_000


def q_events_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    cell = (e.groupBy("event_type",
                      F.expr(f"(ts div {_DAY_NS}) % 7").alias("dow"),
                      F.expr(f"(ts div {_HOUR_NS}) % 24").alias("hour"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = (cell.groupBy("event_type")
               .agg(F.sum("n").cast("bigint").alias("n_type")))
    return (cell.join(F.broadcast(tot), "event_type")
                .select("event_type",
                        F.col("dow").cast("bigint").alias("dow"),
                        F.col("hour").cast("bigint").alias("hour"), "n",
                        F.expr("CAST(n * 1000000 div n_type AS BIGINT)")
                         .alias("share_ppm"))
                .orderBy("event_type", "dow", "hour"))


def sql_events_hour_heatmap() -> str:
    return f"""
WITH cell AS (
  SELECT event_type,
         (epoch_ns(ts) // {_DAY_NS}) % 7 AS dow,
         (epoch_ns(ts) // {_HOUR_NS}) % 24 AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
tot AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
  FROM cell GROUP BY 1
)
SELECT c.event_type, CAST(c.dow AS BIGINT) AS dow,
       CAST(c.hour AS BIGINT) AS hour, c.n,
       CAST(c.n * 1000000 // t.n_type AS BIGINT) AS share_ppm
FROM cell c JOIN tot t USING (event_type)
ORDER BY event_type, dow, hour"""


# --- Inter-arrival time percentiles (round 9) ----------------------------------
# Engagement cadence: per event type, exact p50/p90/p99 of the gap (in
# whole seconds) between a user's consecutive events of that type.
# The readout behind "how often do users come back to X" — and the
# denominator for rate-limit / bot-detection thresholds.
#
# Scale shape: the lag rides a (user_id, event_type)-keyed window
# (corpus-cardinality keys — never a global sort); the percentiles ride
# banded_rank over hour-of-gap bands (band count = time range / 1h,
# corpus-independent) exactly like events_latency_percentiles.  Order
# statistics are exact, all integer.

GAP_BAND_S = 3_600
GAP_PCTS = (50, 90, 99)


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    e = domain.load_table(spark, sf_dir, "events") \
              .select("event_type", "user_id", "event_id", "ts")
    w = (Window.partitionBy("user_id", "event_type")
               .orderBy(F.col("ts").asc(), F.col("event_id").asc()))
    gaps = (e.withColumn("prev", F.lag("ts").over(w))
             .filter(F.col("prev").isNotNull())
             .select("event_type", "user_id", "ts",
                     F.expr("(ts - prev) div 1000000000").alias("gap_s")))
    ranked = banded_rank(
        gaps, ["event_type"], band=F.expr(f"gap_s div {GAP_BAND_S}"),
        order_cols=[F.col("gap_s").asc(), F.col("user_id").asc(),
                    F.col("ts").asc()],
        rank_name="rnk", total_name="n")
    picks = [
        F.expr(f"CAST(max(CASE WHEN rnk = ((n - 1) * {p} div 100 + 1) "
               f"THEN gap_s END) AS BIGINT)").alias(f"p{p}_s")
        for p in GAP_PCTS]
    return (ranked.groupBy("event_type")
                  .agg(F.max("n").cast("bigint").alias("n_gaps"), *picks)
                  .orderBy("event_type"))


def sql_events_interarrival() -> str:
    picks = ", ".join(
        f"CAST(max(CASE WHEN rnk = ((n - 1) * {p} // 100 + 1) "
        f"THEN gap_s END) AS BIGINT) AS p{p}_s"
        for p in GAP_PCTS)
    return f"""
WITH g AS (
  SELECT event_type, user_id, epoch_ns(ts) AS tns,
         lag(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type
                                 ORDER BY epoch_ns(ts), event_id) AS prev
  FROM events
),
gaps AS (
  SELECT event_type, user_id, tns,
         (tns - prev) // 1000000000 AS gap_s
  FROM g WHERE prev IS NOT NULL
),
ranked AS (
  SELECT event_type, gap_s,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY gap_s, user_id, tns)
              AS BIGINT) AS rnk,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM gaps
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps, {picks}
FROM ranked
GROUP BY event_type
ORDER BY event_type"""


# --- Peak session concurrency per day (round 9) --------------------------------
# Capacity planning's first question: how many sessions were open AT
# ONCE?  Sessions are 1h-gap islands per user (the batch twin of
# streaming/sessions.py's session_window); concurrency is the classic
# +1/-1 boundary sweep, evaluated after all boundaries at an instant
# are applied (ts-grain net deltas, so the running sum is
# order-unambiguous), and the peak is read per day.
#
# Scale shape: islands ride (user)-keyed windows; boundary deltas
# collapse to ts-grain via a keyed aggregate; the ONLY ordered pass is
# banded_cumsum over day bands (band count = time range in days,
# corpus-independent) — no global single-task sort anywhere.  The
# day-grain peak is a bounded aggregate.

CONC_GAP_NS = 3_600 * 1_000_000_000   # streaming SESSION_GAP = "1 hour"


@domain.checkpointed("peak_session_bounds", scope="invocation")
def _peak_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(start_ns, end_ns) per 1h-gap session island."""
    e = domain.load_table(spark, sf_dir, "events") \
              .select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = (e.withColumn("prev", F.lag("ts").over(w))
                .withColumn("new_s", F.when(
                    F.col("prev").isNull()
                    | (F.col("ts") - F.col("prev") > CONC_GAP_NS), 1)
                    .otherwise(0)))
    isl = flagged.withColumn(
        "sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (isl.groupBy("user_id", "sid")
               .agg(F.min("ts").alias("start_ns"),
                    F.max("ts").alias("end_ns"))
               .select("start_ns", "end_ns"))


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_cumsum
    # r12 (guide §8 / §3.3): collapse to the 2-long-per-session boundary
    # frame and localCheckpoint it once — previously the events-scan +
    # user-window + groupBy subtree was recomputed ~5x (both unionAll
    # legs x banded_cumsum's two derivation branches, plus the starts
    # leg).  The union is an explode so the boundary stream is one pass
    # over the materialized frame.
    sess = _peak_sessions(spark, sf_dir)
    pts = (sess.select(F.explode(F.array(
                   F.struct(F.col("start_ns").alias("tns"),
                            F.lit(1).cast("long").alias("d")),
                   F.struct((F.col("end_ns") + 1).alias("tns"),
                            F.lit(-1).cast("long").alias("d"))))
                 .alias("b"))
               .select(F.col("b.tns").alias("tns"), F.col("b.d").alias("d"))
               .groupBy("tns")
               .agg(F.sum("d").cast("bigint").alias("net")))
    run = banded_cumsum(pts, [], F.expr(f"tns div {_DAY_NS}"),
                        [F.col("tns").asc()], "net", "conc",
                        inclusive=True)
    peak = (run.groupBy(F.expr(f"tns div {_DAY_NS}").alias("day"))
               .agg(F.max("conc").cast("bigint").alias("peak_concurrent")))
    starts = (sess.groupBy(F.expr(f"start_ns div {_DAY_NS}").alias("day"))
                  .agg(F.count(F.lit(1)).cast("bigint")
                        .alias("n_sessions_started")))
    return (peak.join(F.broadcast(starts), "day", "left")
                .select(F.col("day").cast("bigint").alias("day"),
                        F.coalesce("n_sessions_started", F.lit(0))
                         .cast("bigint").alias("n_sessions_started"),
                        "peak_concurrent")
                .orderBy("day"))


def sql_events_peak_concurrency() -> str:
    return f"""
WITH flagged AS (
  SELECT user_id, epoch_ns(ts) AS tns,
         CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > {CONC_GAP_NS}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts))
),
isl AS (
  SELECT user_id, tns,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tns
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sess AS MATERIALIZED (
  SELECT user_id, sid, min(tns) AS start_ns, max(tns) AS end_ns
  FROM isl GROUP BY 1, 2
),
pts AS (
  SELECT tns, CAST(sum(d) AS BIGINT) AS net
  FROM (SELECT start_ns AS tns, 1 AS d FROM sess
        UNION ALL
        SELECT end_ns + 1 AS tns, -1 AS d FROM sess)
  GROUP BY 1
),
run AS (
  SELECT tns, sum(net) OVER (ORDER BY tns
                             ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
),
peak AS (
  SELECT tns // {_DAY_NS} AS day,
         CAST(max(conc) AS BIGINT) AS peak_concurrent
  FROM run GROUP BY 1
),
starts AS (
  SELECT start_ns // {_DAY_NS} AS day,
         CAST(count(*) AS BIGINT) AS n_sessions_started
  FROM sess GROUP BY 1
)
SELECT CAST(p.day AS BIGINT) AS day,
       CAST(COALESCE(s.n_sessions_started, 0) AS BIGINT)
         AS n_sessions_started,
       p.peak_concurrent
FROM peak p LEFT JOIN starts s USING (day)
ORDER BY day"""


# --- New vs returning daily traffic split (round 9) ------------------------------
# The growth dashboard's first split: per day, events from users on
# their FIRST active day versus returning users, plus the count of
# users acquired that day.  Complements events_retention (cohort
# decay) and events_stickiness (DAU/MAU) with the acquisition-vs-
# habit mix.
#
# Scale shape: first-seen day is a min over a (user)-keyed aggregate;
# the per-event new/returning label comes back via an equi-join on
# user_id (corpus-cardinality keys, AQE-splittable); the readout is a
# bounded day-grain aggregate.  No windows, nothing quadratic.

def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (domain.load_table(spark, sf_dir, "events")
         .select(F.expr(f"ts div {_DAY_NS}").alias("day"), "user_id"))
    first = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = e.join(first, "user_id")
    daily = (j.groupBy("day")
              .agg(F.sum(F.when(F.col("day") == F.col("first_day"), 1)
                          .otherwise(0)).cast("bigint")
                    .alias("n_events_new"),
                   F.sum(F.when(F.col("day") > F.col("first_day"), 1)
                          .otherwise(0)).cast("bigint")
                    .alias("n_events_returning")))
    acq = (first.groupBy(F.col("first_day").alias("day"))
                .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("n_new_users")))
    return (daily.join(acq, "day", "left")
                 .select(F.col("day").cast("bigint").alias("day"),
                         F.coalesce("n_new_users", F.lit(0))
                          .cast("bigint").alias("n_new_users"),
                         "n_events_new", "n_events_returning",
                         F.expr("CAST(n_events_new * 1000000"
                                " div (n_events_new + n_events_returning)"
                                " AS BIGINT)").alias("new_share_ppm"))
                 .orderBy("day"))


def sql_events_new_vs_returning() -> str:
    return f"""
WITH e AS (
  SELECT epoch_ns(ts) // {_DAY_NS} AS day, user_id FROM events
),
first AS MATERIALIZED (
  SELECT user_id, min(day) AS first_day FROM e GROUP BY 1
),
daily AS (
  SELECT e.day,
         CAST(sum(CASE WHEN e.day = f.first_day THEN 1 ELSE 0 END)
              AS BIGINT) AS n_events_new,
         CAST(sum(CASE WHEN e.day > f.first_day THEN 1 ELSE 0 END)
              AS BIGINT) AS n_events_returning
  FROM e JOIN first f USING (user_id)
  GROUP BY 1
),
acq AS (
  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new_users
  FROM first GROUP BY 1
)
SELECT CAST(d.day AS BIGINT) AS day,
       CAST(COALESCE(a.n_new_users, 0) AS BIGINT) AS n_new_users,
       d.n_events_new, d.n_events_returning,
       CAST(d.n_events_new * 1000000
            // (d.n_events_new + d.n_events_returning) AS BIGINT)
         AS new_share_ppm
FROM daily d LEFT JOIN acq a USING (day)
ORDER BY day"""


# --- Late-arrival / watermark audit (round 11) ----------------------------------
# The batch-expressible face of §2.9's streaming semantics: how much
# data would a watermark of delay D drop?  The fixture's event_id is
# exactly ts-ordered (verified at every SF), so the audit models the
# canonical real-world cause of late data instead: CLIENT-BATCHED
# uploads — each user's events ship at the end of their LATE_SLOT_NS
# (hourly) slot, so arrival order is (slot, user_id, ts, event_id) per
# event_type stream.  Each event's high-watermark is the max event time
# over STRICTLY PRECEDING arrivals of its type; lateness = hwm - ts
# when positive; for a fixed delay grid the audit counts the events a
# `withWatermark(D)` would discard.  This is the sizing query you run
# BEFORE picking the delay for streaming/correlate.py's watermarked
# joins (sf0.001: 63/1000 events late, lateness up to ~56 min — the
# within-slot cross-user interleave).
#
# Scale shape — the text_pack_offsets two-level prefix device, for MAX
# instead of SUM: the upload slot IS the natural segment, so the
# within-slot exclusive running max windows over (type, slot) —
# thousands of well-sized partitions, never a global sort — and the
# slot-level exclusive running max rides the bounded per-(type, slot)
# aggregate, broadcast back.  MAX is associative, so the decomposition
# equals the single global arrival-order window EXACTLY — which is
# what the DuckDB oracle declares.  The delay grid is applied as
# conditional aggregates per type, then unpivoted on the |types|-row
# result (the 6x row multiplier never touches the corpus).

LATE_SLOT_NS = 3_600 * 1_000_000_000          # hourly client uploads
LATE_DELAYS_MS = [0, 1_000, 60_000, 300_000, 900_000, 1_800_000]


def q_events_late_arrival_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    e = (domain.load_table(spark, sf_dir, "events")
         .select("event_id", "user_id", "event_type", "ts"))
    base = e.withColumn("slot", F.expr(f"ts div {LATE_SLOT_NS}"))
    in_slot = (Window.partitionBy("event_type", "slot")
               .orderBy("user_id", "ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    slot_tot = base.groupBy("event_type", "slot").agg(
        F.max("ts").alias("mx"))
    slot_w = (Window.partitionBy("event_type").orderBy("slot")
              .rowsBetween(Window.unboundedPreceding, -1))
    slot_hwm = slot_tot.withColumn("slot_hwm", F.max("mx").over(slot_w))
    j = base.join(
        F.broadcast(slot_hwm.select("event_type", "slot", "slot_hwm")),
        ["event_type", "slot"])
    hwm = F.greatest(F.col("slot_hwm"), F.max("ts").over(in_slot))
    late = (j.select("event_type",
                     F.when(hwm > F.col("ts"), hwm - F.col("ts"))
                      .otherwise(F.lit(0)).alias("late_ns"))
             .select("event_type",
                     F.expr("CAST(late_ns div 1000000 AS BIGINT)")
                      .alias("late_ms")))
    agg = late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("late_ms").cast("bigint").alias("max_lateness_ms"),
        *[F.sum(F.when(F.col("late_ms") > d, 1).otherwise(0))
          .cast("bigint").alias(f"drop_{d}") for d in LATE_DELAYS_MS])
    grid = F.explode(F.array(*[
        F.struct(F.lit(d).cast("bigint").alias("delay_ms"),
                 F.col(f"drop_{d}").alias("n_dropped"))
        for d in LATE_DELAYS_MS])).alias("g")
    return (agg.select("event_type", "n_events", "max_lateness_ms", grid)
               .select("event_type", F.col("g.delay_ms").alias("delay_ms"),
                       F.col("g.n_dropped").alias("n_dropped"),
                       "n_events", "max_lateness_ms")
               .orderBy("event_type", "delay_ms"))


def sql_events_late_arrival_audit() -> str:
    delays = ", ".join(str(d) for d in LATE_DELAYS_MS)
    return f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) AS tns,
         epoch_ns(ts) // {LATE_SLOT_NS} AS slot
  FROM events
),
h AS (
  SELECT event_type, tns,
         max(tns) OVER (PARTITION BY event_type
                        ORDER BY slot, user_id, tns, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS hwm
  FROM e
),
l AS (
  SELECT event_type,
         CASE WHEN hwm IS NOT NULL AND hwm > tns
              THEN (hwm - tns) // 1000000 ELSE 0 END AS late_ms
  FROM h
),
g AS (SELECT unnest([{delays}]) AS delay_ms)
SELECT event_type, CAST(delay_ms AS BIGINT) AS delay_ms,
       CAST(sum(CASE WHEN late_ms > delay_ms THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(late_ms) AS BIGINT) AS max_lateness_ms
FROM l CROSS JOIN g
GROUP BY 1, 2
ORDER BY 1, 2"""
