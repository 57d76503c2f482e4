"""Weather-pattern similarity as distributed DataFrame operators (K5-K8).

The reference compares 7-day weather windows with a day-weighted Pearson
correlation per factor, a freeze-thaw similarity, and an extreme-weather
multiplier (backend/app/services/weather_similarity.py:88-344).  Here the
whole computation is expressed at the *(bucket, bucket) pair grain*:

* similarity is a pure function of two 7-day windows, and windows are shared
  across routes/accidents on a rounded-coordinate grid (the reference's 0.01
  deg bucket memoization, safety_computation_optimized.py:513-567);
* so we compute it ONCE per (location-bucket, accident-bucket) pair with two
  small groupBy passes, then broadcast-join the result into the scoring
  cross join.  The pair table is bounded by N_WBUCKETS^2 rows regardless of
  data scale — at 100 TB it is still a broadcastable few-thousand-row dim.

No UDFs: the weighted Pearson is a closed form over Sum(w*x) style
aggregates, computed in a numerically-stable two-pass (means first, then
centered moments) so the zero-variance edge cases (stats_utils.py:155-159)
are decided identically by Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as C
from .. import domain

FACTORS = ["temp", "precip", "wind", "vis", "cloud"]
FACTOR_SRC = {
    "temp": "temperature",
    "precip": "precipitation",
    "wind": "wind_speed",
    "vis": "visibility",
    "cloud": "cloud_cover",
}


def _corr_from_moments(vx, vy, cov):
    """Weighted Pearson from centered moments with the reference's
    zero-variance rules (weighted_pearson_correlation, stats_utils.py:111-170):
    both zero-variance -> 1.0, one -> 0.0, else clamp(cov/(sqrt(vx)*sqrt(vy)))."""
    eps = F.lit(C.VARIANCE_EPS)
    zx, zy = vx <= eps, vy <= eps
    corr = cov / (F.sqrt(vx) * F.sqrt(vy))
    return (F.when(zx & zy, F.lit(1.0))
             .when(zx | zy, F.lit(0.0))
             .otherwise(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), corr))))


def bucket_profile_df(spark: SparkSession, sf_dir: str,
                      weather: DataFrame | None = None) -> DataFrame:
    """Per-bucket window metadata: day count, freeze-thaw count (A10)."""
    w = domain.weather_long_df(spark, sf_dir) if weather is None else weather
    return w.groupBy("wbucket").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.when((F.col("temp_min") < 0) & (F.col("temp_max") > 0), 1)
               .otherwise(0)).alias("ft_count"),
    )


def extreme_multiplier_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8: per-bucket extreme-weather multiplier vs archive stats.

    multiplier = 1 + sum over {wind, precip, temp, vis} of
    (|z|-2)*penalty when |z| > 2 (weather_similarity.py:221-344).
    """
    w = domain.weather_long_df(spark, sf_dir)
    cur = w.groupBy("wbucket").agg(
        F.avg("temperature").alias("cm_temp"),
        F.avg("precipitation").alias("cm_precip"),
        F.avg("wind_speed").alias("cm_wind"),
        F.avg("visibility").alias("cm_vis"),
    )
    arch = domain.archive_stats_df(spark, sf_dir)
    j = cur.join(arch, "wbucket", "left")

    def contrib(cm: str, mean: str, std: str, penalty: float):
        z = (F.col(cm) - F.col(mean)) / F.col(std)
        t = F.lit(C.EXTREME_WEATHER_SD_THRESHOLD)
        return F.when(F.col(std).isNull() | (F.col(std) == 0), F.lit(0.0)) \
                .otherwise(F.when(F.abs(z) > t,
                                  (F.abs(z) - t) * F.lit(penalty))
                            .otherwise(F.lit(0.0)))

    p = C.EXTREME_PENALTY_MULTIPLIERS
    mult = (F.lit(1.0)
            + contrib("cm_wind", "mean_wind", "std_wind", p["wind_speed"])
            + contrib("cm_precip", "mean_precip", "std_precip", p["precipitation"])
            + contrib("cm_temp", "mean_temp", "std_temp", p["temperature"])
            + contrib("cm_vis", "mean_vis", "std_vis", p["visibility"]))
    return j.select("wbucket", mult.alias("extreme_multiplier"))


@domain.checkpointed("wsim_frame")
def weather_similarity_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped pair-grain similarity dimension.

    Every scoring query broadcast-joins this table; it is bounded by
    N_WBUCKETS^2 rows so materializing it is free and saves the two-pass
    moment aggregation per query.  A checkpoint (not ``.cache()``):
    truncating the lineage keeps the two-pass moment subtree out of every
    consumer's analyzed plan — consumers broadcast it explicitly, so the
    lost size estimate is irrelevant."""
    return weather_similarity_df(spark, sf_dir)


def weather_similarity_df(spark: SparkSession, sf_dir: str,
                          with_extreme: bool = True,
                          weather: DataFrame | None = None) -> DataFrame:
    """K7: the (cur_bucket, acc_bucket) pair-grain similarity table.

    Columns: cur_bucket, acc_bucket, weather_weight (base 6-factor similarity
    x extreme multiplier of the *current* bucket).  Invalid (<5-day) windows
    yield 0.0 (weather_similarity.py:124-126); pairs absent entirely are the
    'missing pattern' neutral-0.5 path, handled by the caller's left join.
    ``weather`` overrides the long-form window table (tests exercise partial
    5-6 day windows through it).
    """
    if weather is None:
        weather = domain.weather_long_df(spark, sf_dir)
    # Positional alignment, mirroring the reference exactly
    # (weather_similarity.py:131-141 + time_utils.py:80-113): both series are
    # truncated to nd = min(num_days_a, num_days_b) FIRST elements, and the
    # decay weights are built for that shorter window, weight(i) =
    # decay^(nd-1-i) (the reference normalizes to sum 1, but weighted Pearson
    # is invariant to weight scale, so the raw weights give identical
    # correlations).  For two full 7-day windows pos == day_offset and
    # wraw == decay^(6-day_offset) — the previous calendar-aligned form.
    from pyspark.sql import Window
    seq = Window.partitionBy("wbucket").orderBy("day_offset")
    w = (weather.withColumn("pos", F.row_number().over(seq) - 1)
                .withColumn("wnd", F.count(F.lit(1)).over(
                    Window.partitionBy("wbucket"))))
    a = w.alias("a")
    b = w.alias("b")
    nd = F.least(F.col("a.wnd"), F.col("b.wnd"))
    pairs = (a.join(b, F.col("a.pos") == F.col("b.pos"))
              .filter(F.col("a.pos") < nd)
              .select(
        F.col("a.wbucket").alias("cur_bucket"),
        F.col("b.wbucket").alias("acc_bucket"),
        F.pow(F.lit(C.WITHIN_WINDOW_TEMPORAL_DECAY),
              (nd - 1 - F.col("a.pos")).cast("double")).alias("wraw"),
        *[F.col(f"a.{FACTOR_SRC[f]}").alias(f"x_{f}") for f in FACTORS],
        *[F.col(f"b.{FACTOR_SRC[f]}").alias(f"y_{f}") for f in FACTORS],
    ))

    keys = ["cur_bucket", "acc_bucket"]
    # Pass 1: weighted means — computed as window aggregates over the
    # SAME (cur_bucket, acc_bucket) partitioning the moment aggregate
    # needs anyway (r12): the previous groupBy + join-back form executed
    # the whole `pairs` self-join subtree TWICE and paid a join to
    # reconcile the copies; the window form scans pairs once, and the
    # following groupBy reuses the window's partitioning (zero extra
    # Exchanges).  The means are the identical sum(w*x)/sum(w)
    # expressions, still centered before squaring — the two-PHASE
    # numerics are unchanged (a one-pass E[x^2]-mean^2 would leave Spark
    # and DuckDB disagreeing on "is the variance zero").
    from pyspark.sql import Window as _W
    wk = _W.partitionBy(*keys)
    sw = F.sum("wraw").over(wk)
    centered = pairs.select(
        *keys, "wraw",
        sw.alias("sw"),
        *[e for f in FACTORS for e in (
            F.col(f"x_{f}"), F.col(f"y_{f}"),
            (F.sum(F.col("wraw") * F.col(f"x_{f}")).over(wk) / sw)
             .alias(f"mx_{f}"),
            (F.sum(F.col("wraw") * F.col(f"y_{f}")).over(wk) / sw)
             .alias(f"my_{f}"),
        )],
    )
    moments = centered.groupBy(*keys).agg(
        F.first("sw").alias("sw"),
        *[e for f in FACTORS for e in (
            F.sum(F.col("wraw") * F.pow(F.col(f"x_{f}") - F.col(f"mx_{f}"), 2)).alias(f"ssx_{f}"),
            F.sum(F.col("wraw") * F.pow(F.col(f"y_{f}") - F.col(f"my_{f}"), 2)).alias(f"ssy_{f}"),
            F.sum(F.col("wraw") * (F.col(f"x_{f}") - F.col(f"mx_{f}"))
                  * (F.col(f"y_{f}") - F.col(f"my_{f}"))).alias(f"sxy_{f}"),
        )],
    )

    scores = moments.select(
        *keys,
        *[((_corr_from_moments(F.col(f"ssx_{f}") / F.col("sw"),
                               F.col(f"ssy_{f}") / F.col("sw"),
                               F.col(f"sxy_{f}") / F.col("sw"))
            + F.lit(1.0)) / F.lit(2.0)).alias(f"s_{f}")
          for f in FACTORS],
    )

    prof = bucket_profile_df(spark, sf_dir, weather=weather)
    pa = prof.select(F.col("wbucket").alias("cur_bucket"),
                     F.col("n_days").alias("n_days_a"),
                     F.col("ft_count").alias("ft_a"))
    pb = prof.select(F.col("wbucket").alias("acc_bucket"),
                     F.col("n_days").alias("n_days_b"),
                     F.col("ft_count").alias("ft_b"))
    s = scores.join(pa, "cur_bucket").join(pb, "acc_bucket")

    # Freeze-thaw similarity (weather_similarity.py:194-201)
    ft_sim = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.abs(F.col("ft_a") - F.col("ft_b"))
        / (F.greatest(F.col("ft_a"), F.col("ft_b"), F.lit(1)).cast("double") + F.lit(7.0)),
    )
    base = (F.col("s_temp") + F.col("s_precip") + F.col("s_wind")
            + F.col("s_vis") + F.col("s_cloud") + ft_sim) / F.lit(6.0)
    valid = (F.col("n_days_a") >= C.MIN_WEATHER_DAYS_REQUIRED) & \
            (F.col("n_days_b") >= C.MIN_WEATHER_DAYS_REQUIRED)
    sim = F.when(valid, base).otherwise(F.lit(0.0))

    out = s.select("cur_bucket", "acc_bucket", sim.alias("base_similarity"))
    if with_extreme:
        mult = extreme_multiplier_df(spark, sf_dir)
        out = (out.join(mult.withColumnRenamed("wbucket", "cur_bucket"),
                        "cur_bucket", "left")
                  .select("cur_bucket", "acc_bucket",
                          (F.col("base_similarity")
                           * F.coalesce(F.col("extreme_multiplier"), F.lit(1.0))
                           ).alias("weather_weight")))
    else:
        out = out.withColumnRenamed("base_similarity", "weather_weight")
    return out


# ---------------------------------------------------------------------------
# DuckDB oracle CTEs mirroring the above
# ---------------------------------------------------------------------------

def wsim_ctes(with_extreme: bool = True) -> str:
    """CTE chain computing wsim(cur_bucket, acc_bucket, weather_weight)."""
    xy_means = ", ".join(
        f"sum(wraw * x_{f}) / sum(wraw) AS mx_{f}, "
        f"sum(wraw * y_{f}) / sum(wraw) AS my_{f}"
        for f in FACTORS
    )
    moments = ", ".join(
        f"sum(p.wraw * pow(p.x_{f} - m.mx_{f}, 2)) / m.sw AS vx_{f}, "
        f"sum(p.wraw * pow(p.y_{f} - m.my_{f}, 2)) / m.sw AS vy_{f}, "
        f"sum(p.wraw * (p.x_{f} - m.mx_{f}) * (p.y_{f} - m.my_{f})) / m.sw AS cov_{f}"
        for f in FACTORS
    )
    eps = C.VARIANCE_EPS
    corr_scores = ", ".join(
        f"(CASE WHEN vx_{f} <= {eps!r} AND vy_{f} <= {eps!r} THEN 1.0 "
        f"WHEN vx_{f} <= {eps!r} OR vy_{f} <= {eps!r} THEN 0.0 "
        f"ELSE greatest(-1.0, least(1.0, cov_{f} / (sqrt(vx_{f}) * sqrt(vy_{f})))) "
        f"END + 1.0) / 2.0 AS s_{f}"
        for f in FACTORS
    )
    xcols = ", ".join(f"a.{FACTOR_SRC[f]} AS x_{f}, b.{FACTOR_SRC[f]} AS y_{f}"
                      for f in FACTORS)
    mjoin_cols = ", ".join(
        c for f in FACTORS for c in (f"m.mx_{f}", f"m.my_{f}"))
    ft_sim = ("greatest(0.0, 1.0 - abs(pa.ft_count - pb.ft_count) / "
              "(CAST(greatest(pa.ft_count, pb.ft_count, 1) AS DOUBLE) + 7.0))")
    base = "(s_temp + s_precip + s_wind + s_vis + s_cloud + " + ft_sim + ") / 6.0"
    valid = (f"pa.n_days >= {C.MIN_WEATHER_DAYS_REQUIRED} AND "
             f"pb.n_days >= {C.MIN_WEATHER_DAYS_REQUIRED}")

    extreme_cte = f"""
wcur AS (
  SELECT wbucket, avg(temperature) AS cm_temp, avg(precipitation) AS cm_precip,
         avg(wind_speed) AS cm_wind, avg(visibility) AS cm_vis
  FROM weather GROUP BY wbucket
),
wmult AS (
  SELECT c.wbucket,
         1.0
         + (CASE WHEN s.std_wind IS NULL OR s.std_wind = 0 THEN 0.0
                 WHEN abs((c.cm_wind - s.mean_wind) / s.std_wind) > 2.0
                 THEN (abs((c.cm_wind - s.mean_wind) / s.std_wind) - 2.0) * 0.20
                 ELSE 0.0 END)
         + (CASE WHEN s.std_precip IS NULL OR s.std_precip = 0 THEN 0.0
                 WHEN abs((c.cm_precip - s.mean_precip) / s.std_precip) > 2.0
                 THEN (abs((c.cm_precip - s.mean_precip) / s.std_precip) - 2.0) * 0.20
                 ELSE 0.0 END)
         + (CASE WHEN s.std_temp IS NULL OR s.std_temp = 0 THEN 0.0
                 WHEN abs((c.cm_temp - s.mean_temp) / s.std_temp) > 2.0
                 THEN (abs((c.cm_temp - s.mean_temp) / s.std_temp) - 2.0) * 0.20
                 ELSE 0.0 END)
         + (CASE WHEN s.std_vis IS NULL OR s.std_vis = 0 THEN 0.0
                 WHEN abs((c.cm_vis - s.mean_vis) / s.std_vis) > 2.0
                 THEN (abs((c.cm_vis - s.mean_vis) / s.std_vis) - 2.0) * 0.25
                 ELSE 0.0 END)
         AS extreme_multiplier
  FROM wcur c LEFT JOIN archive_stats s ON c.wbucket = s.wbucket
),"""

    weight_expr = (
        "wsb.base_similarity * coalesce(wm.extreme_multiplier, 1.0)"
        if with_extreme else "wsb.base_similarity")
    final_join = ("LEFT JOIN wmult wm ON wsb.cur_bucket = wm.wbucket"
                  if with_extreme else "")

    return f"""
wprof AS (
  SELECT wbucket, count(*) AS n_days,
         sum(CASE WHEN temp_min < 0 AND temp_max > 0 THEN 1 ELSE 0 END) AS ft_count
  FROM weather GROUP BY wbucket
),
wseq AS (
  SELECT *, row_number() OVER (PARTITION BY wbucket ORDER BY day_offset) - 1 AS pos,
         count(*) OVER (PARTITION BY wbucket) AS wnd
  FROM weather
),
wpair AS (
  SELECT a.wbucket AS cur_bucket, b.wbucket AS acc_bucket,
         pow({C.WITHIN_WINDOW_TEMPORAL_DECAY!r},
             CAST(least(a.wnd, b.wnd) - 1 - a.pos AS DOUBLE)) AS wraw,
         {xcols}
  FROM wseq a JOIN wseq b ON a.pos = b.pos
  WHERE a.pos < least(a.wnd, b.wnd)
),
wmeans AS (
  SELECT cur_bucket, acc_bucket, sum(wraw) AS sw, {xy_means}
  FROM wpair GROUP BY cur_bucket, acc_bucket
),
wmoments AS (
  SELECT p.cur_bucket, p.acc_bucket, {moments}
  FROM wpair p JOIN wmeans m
    ON p.cur_bucket = m.cur_bucket AND p.acc_bucket = m.acc_bucket
  GROUP BY p.cur_bucket, p.acc_bucket, m.sw, {mjoin_cols}
),
wscores AS (
  SELECT cur_bucket, acc_bucket, {corr_scores} FROM wmoments
),
{extreme_cte if with_extreme else ''}
wsim_base AS (
  SELECT s.cur_bucket, s.acc_bucket,
         CASE WHEN {valid} THEN {base} ELSE 0.0 END AS base_similarity
  FROM wscores s
  JOIN wprof pa ON s.cur_bucket = pa.wbucket
  JOIN wprof pb ON s.acc_bucket = pb.wbucket
),
wsim AS (
  SELECT wsb.cur_bucket, wsb.acc_bucket,
         {weight_expr} AS weather_weight
  FROM wsim_base wsb
  {final_join}
)"""


# ---------------------------------------------------------------------------
# Oracle-facing queries
# ---------------------------------------------------------------------------

_WEATHER_ONLY_WITH = "WITH " + domain.WEATHER_CTE.strip()
_WEATHER_FULL_WITH = ("WITH " + domain.WEATHER_CTE.strip() + ",\n"
                      + domain.ARCHIVE_STATS_CTE.strip())


def q_weather_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/J2 analog: the assembled per-bucket 7-day weather window (long form)."""
    w = domain.weather_long_df(spark, sf_dir)
    return w.select(
        "wbucket", "day_offset",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.round("temperature", 6).alias("temperature"),
        F.round("temp_min", 6).alias("temp_min"),
        F.round("temp_max", 6).alias("temp_max"),
        F.round("precipitation", 6).alias("precipitation"),
        F.round("wind_speed", 6).alias("wind_speed"),
        F.round("visibility", 6).alias("visibility"),
        F.round("cloud_cover", 6).alias("cloud_cover"),
    ).orderBy("wbucket", "day_offset")


def sql_weather_window() -> str:
    return f"""{_WEATHER_ONLY_WITH}
SELECT wbucket, day_offset, CAST(n_obs AS BIGINT) AS n_obs,
       round(temperature, 6) AS temperature,
       round(temp_min, 6) AS temp_min, round(temp_max, 6) AS temp_max,
       round(precipitation, 6) AS precipitation,
       round(wind_speed, 6) AS wind_speed,
       round(visibility, 6) AS visibility,
       round(cloud_cover, 6) AS cloud_cover
FROM weather ORDER BY wbucket, day_offset"""


def q_freeze_thaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: freeze-thaw day counts per bucket (min<0<max within the window)."""
    p = bucket_profile_df(spark, sf_dir)
    return p.select("wbucket",
                    F.col("n_days").cast("bigint").alias("n_days"),
                    F.col("ft_count").cast("bigint").alias("ft_count")) \
            .orderBy("wbucket")


def sql_freeze_thaw() -> str:
    return f"""{_WEATHER_ONLY_WITH}
SELECT wbucket, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN temp_min < 0 AND temp_max > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS ft_count
FROM weather GROUP BY wbucket ORDER BY wbucket"""


def q_weather_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5-K7: base 6-factor similarity for every bucket pair (no extreme mult)."""
    sim = weather_similarity_df(spark, sf_dir, with_extreme=False)
    return sim.select("cur_bucket", "acc_bucket",
                      F.round("weather_weight", 9).alias("similarity")) \
              .orderBy("cur_bucket", "acc_bucket")


def sql_weather_similarity() -> str:
    return f"""{_WEATHER_ONLY_WITH},
{wsim_ctes(with_extreme=False).strip()}
SELECT cur_bucket, acc_bucket, round(weather_weight, 9) AS similarity
FROM wsim ORDER BY cur_bucket, acc_bucket"""


def q_extreme_multiplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 + A7: per-bucket extreme-weather multiplier vs archive statistics."""
    m = extreme_multiplier_df(spark, sf_dir)
    return m.select("wbucket",
                    F.round("extreme_multiplier", 9).alias("extreme_multiplier")) \
            .orderBy("wbucket")


def sql_extreme_multiplier() -> str:
    # Reuse the wmult CTE from wsim_ctes by projecting it directly.
    full = wsim_ctes(with_extreme=True).strip()
    return f"""{_WEATHER_FULL_WITH},
{full}
SELECT wbucket, round(extreme_multiplier, 9) AS extreme_multiplier
FROM wmult ORDER BY wbucket"""


# K8 per-factor diagnostics: the columns of the reference's
# calculate_extreme_weather_analysis payload (weather_similarity.py:229-344),
# flattened one column per factor field.  Check order fixed to the
# reference's dict order for the triggered-factor list.
K8_FACTORS = [  # (short, cur-mean col, stat mean col, stat std col, penalty key)
    ("wind", "cm_wind", "mean_wind", "std_wind", "wind_speed"),
    ("precip", "cm_precip", "mean_precip", "std_precip", "precipitation"),
    ("temp", "cm_temp", "mean_temp", "std_temp", "temperature"),
    ("vis", "cm_vis", "mean_vis", "std_vis", "visibility"),
]


def q_extreme_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 diagnostics: per-bucket per-factor extreme-weather breakdown."""
    w = domain.weather_long_df(spark, sf_dir)
    cur = w.groupBy("wbucket").agg(
        F.avg("temperature").alias("cm_temp"),
        F.avg("precipitation").alias("cm_precip"),
        F.avg("wind_speed").alias("cm_wind"),
        F.avg("visibility").alias("cm_vis"),
    )
    arch = domain.archive_stats_df(spark, sf_dir)
    j = cur.join(arch, "wbucket", "left")

    t = F.lit(C.EXTREME_WEATHER_SD_THRESHOLD)
    cols, mult, trig = [], F.lit(1.0), []
    for short, cm, mean, std, pkey in K8_FACTORS:
        penalty = C.EXTREME_PENALTY_MULTIPLIERS[pkey]
        no_var = F.col(std).isNull() | (F.col(std) == 0)
        z = (F.col(cm) - F.col(mean)) / F.col(std)
        is_ext = ~no_var & (F.abs(z) > t)
        beyond = F.when(is_ext, F.abs(z) - t).otherwise(F.lit(0.0))
        fmult = F.lit(1.0) + beyond * F.lit(penalty)
        cols += [
            F.round(F.col(cm), 6).alias(f"{short}_value"),
            F.round(F.when(no_var, F.lit(None)).otherwise(z), 6)
             .alias(f"{short}_z"),
            is_ext.alias(f"{short}_extreme"),
            F.round(fmult, 6).alias(f"{short}_mult"),
        ]
        mult = mult + beyond * F.lit(penalty)
        trig.append(F.when(is_ext, F.lit(pkey)))
    triggered = F.concat_ws(",", F.array_compact(F.array(*trig)))
    return j.select(
        "wbucket", *cols,
        F.round(mult, 9).alias("extreme_multiplier"),
        (mult > 1.0).alias("is_extreme"),
        triggered.alias("triggered_factors"),
    ).orderBy("wbucket")


def sql_extreme_breakdown() -> str:
    t = C.EXTREME_WEATHER_SD_THRESHOLD
    cols, mult_terms, trig = [], [], []
    for short, cm, mean, std, pkey in K8_FACTORS:
        penalty = C.EXTREME_PENALTY_MULTIPLIERS[pkey]
        no_var = f"(s.{std} IS NULL OR s.{std} = 0)"
        z = f"((c.{cm} - s.{mean}) / s.{std})"
        is_ext = f"(NOT {no_var} AND abs({z}) > {t!r})"
        beyond = f"(CASE WHEN {is_ext} THEN abs({z}) - {t!r} ELSE 0.0 END)"
        cols += [
            f"round(c.{cm}, 6) AS {short}_value",
            f"round(CASE WHEN {no_var} THEN NULL ELSE {z} END, 6) AS {short}_z",
            f"{is_ext} AS {short}_extreme",
            f"round(1.0 + {beyond} * {penalty!r}, 6) AS {short}_mult",
        ]
        mult_terms.append(f"{beyond} * {penalty!r}")
        trig.append(f"CASE WHEN {is_ext} THEN '{pkey}' END")
    mult = "1.0 + " + " + ".join(mult_terms)
    triggered = ("array_to_string(list_filter(["
                 + ", ".join(trig) + "], x -> x IS NOT NULL), ',')")
    return f"""{_WEATHER_FULL_WITH},
wcur8 AS (
  SELECT wbucket, avg(temperature) AS cm_temp, avg(precipitation) AS cm_precip,
         avg(wind_speed) AS cm_wind, avg(visibility) AS cm_vis
  FROM weather GROUP BY wbucket
)
SELECT c.wbucket, {', '.join(cols)},
       round({mult}, 9) AS extreme_multiplier,
       ({mult}) > 1.0 AS is_extreme,
       {triggered} AS triggered_factors
FROM wcur8 c LEFT JOIN archive_stats s ON c.wbucket = s.wbucket
ORDER BY c.wbucket"""


def q_pearson_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: classic (unweighted, sample) Pearson correlation between factor
    series within each bucket's window, via the native corr aggregate.
    Reference: backend/app/utils/stats_utils.py:52-108."""
    w = domain.weather_long_df(spark, sf_dir)
    return (w.groupBy("wbucket")
             .agg(F.count(F.lit(1)).alias("n_days"),
                  F.round(F.corr("temperature", "wind_speed"), 6)
                   .alias("corr_temp_wind"),
                  F.round(F.corr("temperature", "cloud_cover"), 6)
                   .alias("corr_temp_cloud"))
             .filter(F.col("n_days") >= 2)
             .orderBy("wbucket"))


def sql_pearson_factors() -> str:
    return f"""{_WEATHER_ONLY_WITH}
SELECT wbucket, count(*) AS n_days,
       round(corr(temperature, wind_speed), 6) AS corr_temp_wind,
       round(corr(temperature, cloud_cover), 6) AS corr_temp_cloud
FROM weather GROUP BY wbucket
HAVING count(*) >= 2
ORDER BY wbucket"""


def q_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: day-weighted mean and population std per factor, per bucket.

    The reference's ``_weighted_mean_and_std`` (weather_service.py:99-110):
    wmean = sum(w*x)/sum(w), wstd = sqrt(max(sum(w*(x-wmean)^2)/sum(w), 0)),
    with the within-window decay weights weight(i) = decay^(nd-1-i) built
    positionally over the bucket's window (time_utils.py:80-113) — the same
    alignment weather_similarity_df uses.  Two-pass centered form so Spark
    and DuckDB decide the near-zero-variance edge identically (the reference
    clamps negative variance, hence the greatest(.., 0)).

    Scale shape: two map-side-combined groupBys over the long-form weather
    table + a bounded broadcast-sized join between them; no window wider
    than a wbucket (<= 7 rows)."""
    from pyspark.sql import Window
    w = domain.weather_long_df(spark, sf_dir)
    seq = Window.partitionBy("wbucket").orderBy("day_offset")
    s = (w.withColumn("pos", F.row_number().over(seq) - 1)
          .withColumn("wnd", F.count(F.lit(1)).over(
              Window.partitionBy("wbucket")))
          .withColumn("wraw", F.pow(
              F.lit(C.WITHIN_WINDOW_TEMPORAL_DECAY),
              (F.col("wnd") - 1 - F.col("pos")).cast("double"))))
    means = s.groupBy("wbucket").agg(
        F.sum("wraw").alias("sw"),
        *[F.sum(F.col("wraw") * F.col(FACTOR_SRC[f])).alias(f"sx_{f}")
          for f in FACTORS],
    ).select("wbucket", "sw",
             *[(F.col(f"sx_{f}") / F.col("sw")).alias(f"m_{f}")
               for f in FACTORS])
    cent = s.join(means, "wbucket")
    agg = cent.groupBy("wbucket").agg(
        F.first("sw").alias("sw"),
        *[e for f in FACTORS for e in (
            F.first(f"m_{f}").alias(f"fm_{f}"),
            F.sum(F.col("wraw")
                  * F.pow(F.col(FACTOR_SRC[f]) - F.col(f"m_{f}"), 2))
             .alias(f"ss_{f}"),
        )],
    )
    return agg.select(
        "wbucket",
        *[e for f in FACTORS for e in (
            F.round(F.col(f"fm_{f}"), 6).alias(f"wmean_{f}"),
            F.round(F.sqrt(F.greatest(F.col(f"ss_{f}") / F.col("sw"),
                                      F.lit(0.0))), 6).alias(f"wstd_{f}"),
        )],
    ).orderBy("wbucket")


def sql_weighted_stats() -> str:
    mean_cols = ", ".join(
        f"sum(wraw * {FACTOR_SRC[f]}) / sum(wraw) AS m_{f}" for f in FACTORS)
    out_cols = ", ".join(
        f"round(m.m_{f}, 6) AS wmean_{f}, "
        f"round(sqrt(greatest(sum(s.wraw * pow(s.{FACTOR_SRC[f]} - m.m_{f}, 2))"
        f" / m.sw, 0.0)), 6) AS wstd_{f}"
        for f in FACTORS)
    group_means = ", ".join(f"m.m_{f}" for f in FACTORS)
    return f"""{_WEATHER_ONLY_WITH},
wseq AS (
  SELECT *, row_number() OVER (PARTITION BY wbucket ORDER BY day_offset) - 1 AS pos,
         count(*) OVER (PARTITION BY wbucket) AS wnd
  FROM weather
),
wwt AS (
  SELECT *, pow({C.WITHIN_WINDOW_TEMPORAL_DECAY!r},
                CAST(wnd - 1 - pos AS DOUBLE)) AS wraw
  FROM wseq
),
wm AS (
  SELECT wbucket, sum(wraw) AS sw, {mean_cols}
  FROM wwt GROUP BY wbucket
)
SELECT s.wbucket, {out_cols}
FROM wwt s JOIN wm m ON s.wbucket = m.wbucket
GROUP BY s.wbucket, m.sw, {group_means}
ORDER BY s.wbucket"""
