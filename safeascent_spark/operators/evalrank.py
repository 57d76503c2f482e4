"""Model-evaluation rank statistics over the events stream (round 7).

The training-data-pipeline closing loop: after a filter/classifier model
scores a corpus, the pipeline grades the SCORES themselves — ROC AUC,
KS separation, and decile gains/lift — before the scores are trusted to
gate data.  The reference computes per-route quality gradings driver-side
(`backend/app/services/mp_routes.py` score summaries); the engine form is
three distributed rank statistics with exact integer arithmetic.

Shared frame: label = (event_type — each type in turn is the "positive"
class, one-vs-rest), score = floor(value * 100) exact cents.

Scale design: every statistic is computed from the DISTINCT-SCORE count
table, never a per-row global sort.  Scores live on a bounded cent grid
(value range x 100 rows regardless of corpus size), and the prefix sums
over that grid use rankutil.banded_cumsum — in-band windows over
score-magnitude bands plus a broadcast offset join — so nothing funnels
through a single task.  All products ride DECIMAL(38,0) (HUGEINT in the
DuckDB oracles): at 1e12 events 2U <= N^2/2 ~ 5e23 and ppm scaling adds
x1e6 — still 8 orders inside DECIMAL(38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import domain
from .rankutil import banded_cumsum, banded_rank

# score bands of $10 (1000 cents): |bands| = value range / $10,
# corpus-size-independent
SCORE_BAND_CENTS = 1000
GAINS_POS_TYPE = "purchase"
GAINS_DECILES = 10

_DEC = "DECIMAL(38,0)"


def _scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, event_id, s) with s = exact integer cents."""
    return (domain.load_table(spark, sf_dir, "events")
            .select("event_type", "event_id",
                    F.expr("CAST(floor(value * 100) AS BIGINT)").alias("s")))


def _per_and_tot(spark: SparkSession, sf_dir: str):
    """Distinct-score count tables: per (event_type, s) and per s.

    ``per`` is localCheckpoint'ed (r12, guide §3.3): every consumer uses
    the grid 4-6 times (each banded_cumsum derives its input twice, plus
    npos/n_row), and without materialization each use recomputes the
    full events scan+aggregate — 10-12 parquet scans per eval query.
    The grid is BOUNDED (|event types| x cent grid, corpus-size-
    independent by the module's scale design), so the checkpoint is a
    few thousand rows regardless of corpus size; the one events pass
    that builds it happens inside the timed invocation.  Checkpointed
    frames carry no size stats, so downstream grid joins carry explicit
    broadcast hints (the isotonic lesson, VERDICT r11)."""
    per = _score_grid(spark, sf_dir)
    tot = per.groupBy("s").agg(F.sum("n_ts").cast("bigint").alias("n_s"))
    return per, tot


@domain.checkpointed("eval_score_grid", scope="invocation")
def _score_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, s) -> n_ts distinct-score grid."""
    return (_scores(spark, sf_dir)
            .groupBy("event_type", "s")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ts")))


# --- ROC AUC via the tie-corrected rank-sum (Mann-Whitney U) -------------------
# AUC = U / (n_pos * n_neg) with U = #(pos>neg) + #(pos==neg)/2.  The
# engine computes 2U (an exact integer even with ties):
#   2U = sum over distinct scores s of  n_pos(s) * (2 * cum_neg_below(s)
#                                                   + n_neg(s))
# one-vs-rest for every event_type in a single pass over the shared
# distinct-score grid.

def q_eval_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    per, tot = _per_and_tot(spark, sf_dir)
    band = F.expr(f"s div {SCORE_BAND_CENTS}")
    totc = banded_cumsum(tot, [], band, [F.col("s").asc()],
                         "n_s", "cum_all_below", inclusive=False)
    perc = banded_cumsum(per, ["event_type"], band, [F.col("s").asc()],
                         "n_ts", "cum_t_below", inclusive=False)
    n_row = tot.agg(F.sum("n_s").cast("bigint").alias("n_total"))
    j = perc.join(F.broadcast(totc.select("s", "n_s", "cum_all_below")),
                  "s")
    contrib = F.expr(
        f"CAST(n_ts AS {_DEC})"
        " * (2 * (cum_all_below - cum_t_below) + (n_s - n_ts))")
    agg = (j.groupBy("event_type")
            .agg(F.sum("n_ts").cast("bigint").alias("n_pos"),
                 F.sum(contrib).alias("u2")))
    return (agg.crossJoin(F.broadcast(n_row))
               .select("event_type", "n_pos",
                       (F.col("n_total") - F.col("n_pos"))
                        .cast("bigint").alias("n_neg"),
                       F.expr(
                           f"CAST(u2 * 1000000 div (2 * CAST(n_pos AS {_DEC})"
                           " * (n_total - n_pos)) AS BIGINT)")
                        .alias("auc_ppm"))
               .orderBy("event_type"))


def sql_eval_roc_auc() -> str:
    return """
WITH e AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS s FROM events
),
per AS (
  SELECT event_type, s, CAST(count(*) AS BIGINT) AS n_ts
  FROM e GROUP BY 1, 2
),
tot AS (SELECT s, CAST(sum(n_ts) AS BIGINT) AS n_s FROM per GROUP BY 1),
totc AS (
  SELECT s, n_s,
         CAST(coalesce(sum(n_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_all_below
  FROM tot
),
perc AS (
  SELECT event_type, s, n_ts,
         CAST(coalesce(sum(n_ts) OVER (PARTITION BY event_type ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_t_below
  FROM per
),
n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM tot),
agg AS (
  SELECT p.event_type,
         CAST(sum(p.n_ts) AS BIGINT) AS n_pos,
         sum(CAST(p.n_ts AS HUGEINT)
             * (2 * (t.cum_all_below - p.cum_t_below) + (t.n_s - p.n_ts)))
           AS u2
  FROM perc p JOIN totc t ON p.s = t.s
  GROUP BY 1
)
SELECT event_type, n_pos,
       CAST(n.n_total - n_pos AS BIGINT) AS n_neg,
       CAST(u2 * 1000000 // (2 * CAST(n_pos AS HUGEINT)
            * (n.n_total - n_pos)) AS BIGINT) AS auc_ppm
FROM agg, n
ORDER BY event_type"""


# --- Kolmogorov-Smirnov separation per class -----------------------------------
# KS = max over scores of |F_pos(s) - F_neg(s)| (inclusive CDFs).  On the
# common denominator n_pos * n_neg the gap at each score is the exact
# integer D(s) = |cumPos(s) * n_neg - cumNeg(s) * n_pos|; the statistic
# is max D / (n_pos * n_neg).  The CDFs are evaluated on the full
# distinct-score grid x |event types| (bounded x 5), with the per-type
# inclusive prefix from banded_cumsum over zero-filled counts.

def q_eval_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    per, tot = _per_and_tot(spark, sf_dir)
    band = F.expr(f"s div {SCORE_BAND_CENTS}")
    totc = banded_cumsum(tot, [], band, [F.col("s").asc()],
                         "n_s", "cum_all", inclusive=True)
    types = per.select("event_type").distinct()
    grid = (totc.crossJoin(F.broadcast(types))
                .join(F.broadcast(per), ["event_type", "s"], "left")
                .withColumn("n_ts", F.coalesce(F.col("n_ts"),
                                               F.lit(0).cast("bigint"))))
    g = banded_cumsum(grid, ["event_type"], band, [F.col("s").asc()],
                      "n_ts", "cum_t", inclusive=True)
    npos = per.groupBy("event_type").agg(
        F.sum("n_ts").cast("bigint").alias("n_pos"))
    n_row = tot.agg(F.sum("n_s").cast("bigint").alias("n_total"))
    d = (g.join(F.broadcast(npos), "event_type")
          .crossJoin(F.broadcast(n_row))
          .withColumn("n_neg", (F.col("n_total") - F.col("n_pos"))
                                .cast("bigint"))
          .withColumn("d", F.expr(
              f"abs(CAST(cum_t AS {_DEC}) * n_neg"
              f" - CAST(cum_all - cum_t AS {_DEC}) * n_pos)")))
    mx = d.groupBy("event_type").agg(F.max("d").alias("max_d"))
    return (d.join(F.broadcast(mx), "event_type")
             .filter(F.col("d") == F.col("max_d"))
             .groupBy("event_type")
             .agg(F.max("n_pos").alias("n_pos"),
                  F.max("n_neg").alias("n_neg"),
                  F.min("s").cast("bigint").alias("ks_at_score_c"),
                  F.max(F.expr(
                      f"CAST(d * 1000000 div (CAST(n_pos AS {_DEC}) * n_neg)"
                      " AS BIGINT)")).alias("ks_ppm"))
             .select("event_type", "n_pos", "n_neg", "ks_at_score_c",
                     "ks_ppm")
             .orderBy("event_type"))


def sql_eval_ks_statistic() -> str:
    return """
WITH e AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS s FROM events
),
per AS (
  SELECT event_type, s, CAST(count(*) AS BIGINT) AS n_ts
  FROM e GROUP BY 1, 2
),
tot AS (SELECT s, CAST(sum(n_ts) AS BIGINT) AS n_s FROM per GROUP BY 1),
totc AS (
  SELECT s, n_s,
         CAST(sum(n_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_all
  FROM tot
),
grid AS (
  SELECT t.s, t.cum_all, ty.event_type, coalesce(p.n_ts, 0) AS n_ts
  FROM totc t
  CROSS JOIN (SELECT DISTINCT event_type FROM per) ty
  LEFT JOIN per p ON p.event_type = ty.event_type AND p.s = t.s
),
g AS (
  SELECT event_type, s, cum_all,
         CAST(sum(n_ts) OVER (PARTITION BY event_type ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_t
  FROM grid
),
np AS (
  SELECT event_type, CAST(sum(n_ts) AS BIGINT) AS n_pos
  FROM per GROUP BY 1
),
n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM tot),
d AS (
  SELECT g.event_type, g.s, np.n_pos,
         CAST(n.n_total - np.n_pos AS BIGINT) AS n_neg,
         abs(CAST(g.cum_t AS HUGEINT) * (n.n_total - np.n_pos)
             - CAST(g.cum_all - g.cum_t AS HUGEINT) * np.n_pos) AS dd
  FROM g JOIN np ON g.event_type = np.event_type, n
),
mx AS (SELECT event_type, max(dd) AS max_d FROM d GROUP BY 1)
SELECT d.event_type,
       max(d.n_pos) AS n_pos,
       max(d.n_neg) AS n_neg,
       CAST(min(d.s) AS BIGINT) AS ks_at_score_c,
       max(CAST(d.dd * 1000000 // (CAST(d.n_pos AS HUGEINT) * d.n_neg)
           AS BIGINT)) AS ks_ppm
FROM d JOIN mx ON d.event_type = mx.event_type AND d.dd = mx.max_d
GROUP BY d.event_type
ORDER BY d.event_type"""


# --- Decile gains / lift table -------------------------------------------------
# The campaign-targeting classic: rank the corpus by score descending,
# cut into 10 equal deciles, and report what share of the positive class
# each cumulative decile captures vs random (lift).  Decile assignment
# needs a corpus-wide row numbering — banded_rank with descending
# score-magnitude bands, never a single-task sort; the cumulative pass
# then runs on the 10-row decile aggregate.

def q_ml_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _scores(spark, sf_dir)
    ranked = banded_rank(
        e, [], F.expr(f"s div {SCORE_BAND_CENTS}"),
        [F.col("s").desc(), F.col("event_id").asc()],
        rank_name="r", total_name="n_total", descending_bands=True)
    dec = ranked.withColumn(
        "decile",
        F.expr(f"CAST((r - 1) * {GAINS_DECILES} div n_total + 1 AS INT)"))
    agg = (dec.groupBy("decile")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                   F.sum(F.when(F.col("event_type") == GAINS_POS_TYPE, 1)
                          .otherwise(0)).cast("bigint").alias("n_pos")))
    # cumulative windows over the 10-row decile aggregate (bounded by
    # construction — GAINS_DECILES rows)
    cum_w = (Window.partitionBy(F.col("decile") % 1).orderBy("decile")
                   .rowsBetween(Window.unboundedPreceding, 0))
    tot_w = Window.partitionBy(F.col("decile") % 1)
    return (agg.withColumn("cum_rows", F.sum("n_rows").over(cum_w)
                                        .cast("bigint"))
               .withColumn("cum_pos", F.sum("n_pos").over(cum_w)
                                       .cast("bigint"))
               .withColumn("t_rows", F.sum("n_rows").over(tot_w))
               .withColumn("t_pos", F.sum("n_pos").over(tot_w))
               .select("decile", "n_rows", "n_pos", "cum_pos",
                       F.expr("CAST(cum_pos * 1000000 div t_pos AS BIGINT)")
                        .alias("capture_ppm"),
                       F.expr(
                           f"CAST(CAST(cum_pos AS {_DEC}) * t_rows * 1000000"
                           " div (CAST(cum_rows AS {0}) * t_pos) AS BIGINT)"
                           .format(_DEC)).alias("lift_ppm"))
               .orderBy("decile"))


def sql_ml_gains_deciles() -> str:
    return f"""
WITH e AS (
  SELECT event_id, event_type, CAST(floor(value * 100) AS BIGINT) AS s
  FROM events
),
r AS (
  SELECT event_type,
         row_number() OVER (ORDER BY s DESC, event_id) AS r,
         count(*) OVER () AS n_total
  FROM e
),
d AS (
  SELECT CAST((r - 1) * {GAINS_DECILES} // n_total + 1 AS INT) AS decile,
         CASE WHEN event_type = '{GAINS_POS_TYPE}' THEN 1 ELSE 0 END AS p
  FROM r
),
a AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(p) AS BIGINT) AS n_pos
  FROM d GROUP BY 1
),
c AS (
  SELECT decile, n_rows, n_pos,
         CAST(sum(n_rows) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_rows,
         CAST(sum(n_pos) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_pos,
         CAST(sum(n_rows) OVER () AS BIGINT) AS t_rows,
         CAST(sum(n_pos) OVER () AS BIGINT) AS t_pos
  FROM a
)
SELECT decile, n_rows, n_pos, cum_pos,
       CAST(cum_pos * 1000000 // t_pos AS BIGINT) AS capture_ppm,
       CAST(CAST(cum_pos AS HUGEINT) * t_rows * 1000000
            // (CAST(cum_rows AS HUGEINT) * t_pos) AS BIGINT) AS lift_ppm
FROM c
ORDER BY decile"""


# --- Average precision (PR-AUC) per class (round 9) ----------------------------
# The class-imbalance-honest companion to ROC-AUC: sklearn's
# average_precision, the right-point rectangle sum over the PR curve,
#   AP = sum over distinct scores s (descending) of
#          (n_pos(s) / n_pos) * precision(>= s),
# tie-safe because each distinct score is one block.  Exact integers:
# the descending cumulatives come from the SAME ascending strict-below
# prefixes as ROC (P(>=s) = n_pos - cum_pos_below, N(>=s) = n_total -
# cum_all_below), precision is truncated once per block to ppm
# (identical div in both engines), and the block sum divides by n_pos
# once at the end.
#
# Scale shape: identical to eval_roc_auc — one corpus pass to the
# (event_type, s) grid, banded prefix sums over score-cent bands, a
# bounded-grid join, one keyed aggregate.  Nothing rides corpus order.

def q_eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    per, tot = _per_and_tot(spark, sf_dir)
    band = F.expr(f"s div {SCORE_BAND_CENTS}")
    totc = banded_cumsum(tot, [], band, [F.col("s").asc()],
                         "n_s", "cum_all_below", inclusive=False)
    perc = banded_cumsum(per, ["event_type"], band, [F.col("s").asc()],
                         "n_ts", "cum_t_below", inclusive=False)
    n_row = tot.agg(F.sum("n_s").cast("bigint").alias("n_total"))
    npos = (per.groupBy("event_type")
               .agg(F.sum("n_ts").cast("bigint").alias("n_pos")))
    j = (perc.join(F.broadcast(totc.select("s", "cum_all_below")), "s")
             .join(F.broadcast(npos), "event_type")
             .crossJoin(F.broadcast(n_row)))
    contrib = F.expr(
        f"CAST(n_ts AS {_DEC})"
        " * ((n_pos - cum_t_below) * 1000000"
        "    div (n_total - cum_all_below))")
    return (j.groupBy("event_type")
             .agg(F.max("n_pos").cast("bigint").alias("n_pos"),
                  F.count(F.lit(1)).cast("bigint").alias("n_grid"),
                  F.sum(contrib).alias("apsum"))
             .select("event_type", "n_pos", "n_grid",
                     F.expr("CAST(apsum div n_pos AS BIGINT)")
                      .alias("ap_ppm"))
             .orderBy("event_type"))


def sql_eval_pr_auc() -> str:
    return """
WITH e AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS s FROM events
),
per AS (
  SELECT event_type, s, CAST(count(*) AS BIGINT) AS n_ts
  FROM e GROUP BY 1, 2
),
tot AS (SELECT s, CAST(sum(n_ts) AS BIGINT) AS n_s FROM per GROUP BY 1),
totc AS (
  SELECT s,
         CAST(coalesce(sum(n_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_all_below
  FROM tot
),
perc AS (
  SELECT event_type, s, n_ts,
         CAST(coalesce(sum(n_ts) OVER (PARTITION BY event_type ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_t_below
  FROM per
),
n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM tot),
npos AS (
  SELECT event_type, CAST(sum(n_ts) AS BIGINT) AS n_pos
  FROM per GROUP BY 1
),
agg AS (
  SELECT p.event_type,
         CAST(max(np.n_pos) AS BIGINT) AS n_pos,
         CAST(count(*) AS BIGINT) AS n_grid,
         sum(CAST(p.n_ts AS HUGEINT)
             * ((np.n_pos - p.cum_t_below) * 1000000
                // (n.n_total - t.cum_all_below))) AS apsum
  FROM perc p
  JOIN totc t ON p.s = t.s
  JOIN npos np ON p.event_type = np.event_type
  CROSS JOIN n
  GROUP BY 1
)
SELECT event_type, n_pos, n_grid,
       CAST(apsum // n_pos AS BIGINT) AS ap_ppm
FROM agg
ORDER BY event_type"""


# --- Brier-score Murphy decomposition (round 10) --------------------------------
# Extends ml_calibration from a reliability TABLE to the reliability
# DECOMPOSITION: with the surrogate's clamped prediction as the
# probability forecast (p = predicted_risk / 100) and "high-risk route"
# (risk_score >= 50) as the binary outcome, Murphy's partition of the
# Brier score is  BS = REL - RES + UNC  with, per forecast bin k,
#   REL += n_k * (p_bar_k - y_bar_k)^2 / N     (calibration error)
#   RES += n_k * (y_bar_k - y_bar)^2   / N     (discrimination)
#   UNC  = y_bar * (1 - y_bar)                 (outcome entropy)
# The readout a forecast pipeline pages on: REL says "recalibrate",
# RES says "the model still ranks", UNC bounds the achievable score.
#
# Exactness (the ppm-grid integer model, like the micro-nat LM family):
# forecasts land on the 1e6-ppm grid (round once), bin means are
# floored-DOUBLE ratios of exact sums (sums < 2^53 to ~9e6 rows per
# bin at full ppm mass — the ml_calibration device, portable where
# integer div is not because sums can never be negative here yet the
# device stays uniform with its siblings), and every squared term is
# then pure BIGINT/DECIMAL(38,0) arithmetic with ONE trailing integer
# floor-division — both engines floor nonnegative integers identically.
#
# Scale shape: the model is the 7-group broadcast ridge solve
# (ml_risk_model); scoring is its existing map-side join; this query
# adds ONE map-side-combined groupBy onto the <= 10-row bin grid, and
# the global totals come from a window over that BOUNDED frame (the
# orders_pareto device) so the expensive label pipeline upstream is
# consumed exactly once.  Nothing corpus-sized survives the first
# aggregate.

BRIER_BINS = 10
BRIER_POS_THRESHOLD = 50.0      # risk_score >= 50 is the positive class


def q_eval_brier_decomposition(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from .. import ml as ML
    m = ML.q_ml_risk_model(spark, sf_dir).select(
        "route_id", "risk_score", "predicted_risk")
    p_ppm = F.expr("CAST(round(least(greatest(predicted_risk, 0.0D), "
                   "100.0D) * 10000) AS BIGINT)")
    y = F.expr(f"CASE WHEN risk_score >= {BRIER_POS_THRESHOLD} "
               "THEN 1 ELSE 0 END")
    bw = 1_000_000 // BRIER_BINS
    binned = m.select(
        F.expr(f"CAST(least({BRIER_BINS - 1}, "
               "CAST(round(least(greatest(predicted_risk, 0.0D), 100.0D)"
               f" * 10000) AS BIGINT) div {bw}) AS INT)").alias("bin"),
        p_ppm.alias("p"), y.alias("y"))
    per = (binned.groupBy("bin")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_routes"),
                      F.sum("p").cast("bigint").alias("sp"),
                      F.sum("y").cast("bigint").alias("sy")))
    # global totals via a window over the BOUNDED bin frame (<=
    # BRIER_BINS rows by construction — the orders_pareto device), NOT
    # a separate aggregate + cross join: the label pipeline upstream is
    # the FULL influence scoring run, and a second consumer of `per`
    # would recompute it end to end.  This query's first sf1 curve
    # (51.5x) caught exactly that class twice — here AND the missing
    # data.cache() inside q_ml_risk_model; post-fix the scoring runs
    # once and the residual 27.5x ratio is the label pipeline's own
    # documented uncapped-scoring growth (BENCH_sf1 round10 note).
    tot_w = Window.partitionBy(F.col("bin") % 1)
    per = (per.withColumn("n_total",
                          F.sum("n_routes").over(tot_w).cast("bigint"))
              .withColumn("sy_total",
                          F.sum("sy").over(tot_w).cast("bigint")))
    mean_ppm = "CAST(floor(CAST({s} AS DOUBLE) * {m} / {n}) AS BIGINT)"
    return (per.select(
        "bin", "n_routes",
        F.expr(mean_ppm.format(s="sp", m=1, n="n_routes"))
         .alias("avg_pred_ppm"),
        F.expr(mean_ppm.format(s="sy", m=1_000_000, n="n_routes"))
         .alias("avg_obs_ppm"),
        F.expr(mean_ppm.format(s="sy_total", m=1_000_000, n="n_total"))
         .alias("base_rate_ppm"),
        "n_total", "sy_total")
               .select(
        "bin", "n_routes", "avg_pred_ppm", "avg_obs_ppm",
        F.expr(f"CAST(CAST(avg_pred_ppm - avg_obs_ppm AS {_DEC})"
               " * (avg_pred_ppm - avg_obs_ppm) * n_routes"
               " div (CAST(n_total AS {d}) * 1000000) AS BIGINT)"
               .replace("{d}", _DEC)).alias("rel_contrib_micro"),
        F.expr(f"CAST(CAST(avg_obs_ppm - base_rate_ppm AS {_DEC})"
               " * (avg_obs_ppm - base_rate_ppm) * n_routes"
               " div (CAST(n_total AS {d}) * 1000000) AS BIGINT)"
               .replace("{d}", _DEC)).alias("res_contrib_micro"),
        F.expr(f"CAST(CAST(sy_total AS {_DEC}) * (n_total - sy_total)"
               " * 1000000 div (CAST(n_total AS {d}) * n_total)"
               " AS BIGINT)".replace("{d}", _DEC)).alias("unc_micro"))
               .orderBy("bin"))


def sql_eval_brier_decomposition() -> str:
    from ..ml import sql_ml_risk_model
    bw = 1_000_000 // BRIER_BINS
    return f"""
WITH model AS ({sql_ml_risk_model()}),
b AS (
  SELECT least({BRIER_BINS - 1},
               CAST(round(least(greatest(predicted_risk, 0.0),
                                100.0) * 10000) AS BIGINT) // {bw})
           AS bin,
         CAST(round(least(greatest(predicted_risk, 0.0),
                          100.0) * 10000) AS BIGINT) AS p,
         CASE WHEN risk_score >= {BRIER_POS_THRESHOLD}
              THEN 1 ELSE 0 END AS y
  FROM model
),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_routes,
         CAST(sum(p) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy
  FROM b GROUP BY bin
),
tot AS (SELECT CAST(sum(n_routes) AS BIGINT) AS n_total,
               CAST(sum(sy) AS BIGINT) AS sy_total FROM per),
means AS (
  SELECT CAST(per.bin AS INT) AS bin, per.n_routes,
         CAST(floor(CAST(per.sp AS DOUBLE) / per.n_routes) AS BIGINT)
           AS avg_pred_ppm,
         CAST(floor(CAST(per.sy AS DOUBLE) * 1000000 / per.n_routes)
              AS BIGINT) AS avg_obs_ppm,
         CAST(floor(CAST(t.sy_total AS DOUBLE) * 1000000 / t.n_total)
              AS BIGINT) AS base_rate_ppm,
         t.n_total, t.sy_total
  FROM per, tot t
)
SELECT bin, n_routes, avg_pred_ppm, avg_obs_ppm,
       CAST(CAST(avg_pred_ppm - avg_obs_ppm AS HUGEINT)
            * (avg_pred_ppm - avg_obs_ppm) * n_routes
            // (CAST(n_total AS HUGEINT) * 1000000) AS BIGINT)
         AS rel_contrib_micro,
       CAST(CAST(avg_obs_ppm - base_rate_ppm AS HUGEINT)
            * (avg_obs_ppm - base_rate_ppm) * n_routes
            // (CAST(n_total AS HUGEINT) * 1000000) AS BIGINT)
         AS res_contrib_micro,
       CAST(CAST(sy_total AS HUGEINT) * (n_total - sy_total) * 1000000
            // (CAST(n_total AS HUGEINT) * n_total) AS BIGINT)
         AS unc_micro
FROM means
ORDER BY bin"""


# --- Isotonic (PAVA) calibration of the risk surrogate (round 11) ---------------
# The monotone-recalibration companion of ml_calibration / the Brier
# decomposition (VERDICT r10 item 5): fit the best NON-DECREASING map
# from predicted-risk bin to mean actual risk — exactly what a serving
# layer applies to raw surrogate scores.  Rather than the sequential
# pool-adjacent-violators sweep, the fit uses PAVA's closed minimax
# identity  fit(i) = max_{j<=i} min_{k>=i} mean(actual over bins j..k),
# which is order-free and therefore distributes: after ONE corpus-grain
# aggregate to <= ISO_BINS rows, every remaining step is joins/groupBys
# over the bounded bin frame (<= B^2/2 intervals, <= B^2*B rows total —
# corpus-size-independent, the eval-family scale contract).  Integer
# exactness: actual risk is micro-units (nonnegative, so DIV = floor in
# both engines), interval sums ride DECIMAL(38,0)/HUGEINT; the floored
# means keep the minimax monotone (the identity's lattice argument is
# pointwise on the mean values), which the brute-force test asserts.
# The bin frame is localCheckpoint'ed: it is consumed by FIVE plan
# branches, and its upstream is the full scoring label pipeline (the
# exact double-execution class eval_brier_decomposition's first curve
# caught in r10).

ISO_BINS = 32


@domain.checkpointed("iso_bin_frame")
def _iso_bin_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin frame: ONE corpus-grain aggregate of the full scoring label
    pipeline down to <= ISO_BINS rows.  The frame is <= 32 rows, but its
    upstream is the FULL scoring label pipeline — session-scoped so
    repeated calls don't re-run the corpus pass (ADVICE r11)."""
    from .. import ml as ML
    m = ML.q_ml_risk_model(spark, sf_dir).select(
        "risk_score", "predicted_risk")
    bw = 1_000_000 // ISO_BINS
    p_ppm = ("CAST(round(least(greatest(predicted_risk, 0.0D), 100.0D)"
             " * 10000) AS BIGINT)")
    binned = m.select(
        F.expr(f"CAST(least({ISO_BINS - 1}, {p_ppm} div {bw}) AS INT)")
         .alias("bin"),
        F.expr(p_ppm).alias("p"),
        F.expr("CAST(round(risk_score * 1000000) AS BIGINT)").alias("a"))
    return (binned.groupBy("bin")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_routes"),
                       F.sum("p").cast("bigint").alias("sp"),
                       F.sum(F.col("a").cast("decimal(38,0)")).alias("sa")))


def q_ml_isotonic_calibration(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    b = _iso_bin_frame(spark, sf_dir)
    jf = b.select(F.col("bin").alias("jb"))
    kf = b.select(F.col("bin").alias("kb"))
    mf = b.select(F.col("bin").alias("mb"), "sa",
                  F.col("n_routes").alias("mn"))
    # explicit broadcast hints: the checkpointed bin frame carries no
    # size statistics, so without them the bounded non-equi joins plan
    # as CartesianProduct instead of BroadcastNestedLoopJoin
    iv = (jf.join(F.broadcast(kf), F.col("kb") >= F.col("jb"))
            .join(F.broadcast(mf), (F.col("mb") >= F.col("jb"))
                  & (F.col("mb") <= F.col("kb")))
            .groupBy("jb", "kb")
            .agg(F.expr("CAST(sum(sa) div sum(mn) AS BIGINT)")
                  .alias("mean_f")))
    fitj = (b.select(F.col("bin").alias("ib"))
             .join(F.broadcast(iv), (F.col("jb") <= F.col("ib"))
                   & (F.col("kb") >= F.col("ib")))
             .groupBy("ib", "jb")
             .agg(F.min("mean_f").alias("mn_k")))
    fit = (fitj.groupBy("ib")
               .agg(F.max("mn_k").cast("bigint").alias("iso_fit_micro")))
    return (b.join(fit, b["bin"] == fit["ib"])
             .select("bin", "n_routes",
                     F.expr("CAST(sp div n_routes AS BIGINT)")
                      .alias("avg_pred_ppm"),
                     F.expr("CAST(sa div n_routes AS BIGINT)")
                      .alias("avg_actual_micro"),
                     "iso_fit_micro")
             .orderBy("bin"))


def sql_ml_isotonic_calibration() -> str:
    from ..ml import sql_ml_risk_model
    bw = 1_000_000 // ISO_BINS
    p_ppm = ("CAST(round(least(greatest(predicted_risk, 0.0), 100.0)"
             " * 10000) AS BIGINT)")
    return f"""
WITH model AS ({sql_ml_risk_model()}),
binned AS (
  SELECT CAST(least({ISO_BINS - 1}, {p_ppm} // {bw}) AS INT) AS bin,
         {p_ppm} AS p,
         CAST(round(risk_score * 1000000) AS BIGINT) AS a
  FROM model
),
b AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_routes,
         CAST(sum(p) AS BIGINT) AS sp,
         sum(CAST(a AS HUGEINT)) AS sa
  FROM binned GROUP BY bin
),
iv AS (
  SELECT j.bin AS jb, k.bin AS kb,
         sum(m.sa) // sum(m.n_routes) AS mean_f
  FROM b j JOIN b k ON k.bin >= j.bin
       JOIN b m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY 1, 2
),
fitj AS (
  SELECT i.bin AS ib, v.jb, min(v.mean_f) AS mn_k
  FROM b i JOIN iv v ON v.jb <= i.bin AND v.kb >= i.bin
  GROUP BY 1, 2
),
fit AS (
  SELECT ib, CAST(max(mn_k) AS BIGINT) AS iso_fit_micro
  FROM fitj GROUP BY ib
)
SELECT b.bin, b.n_routes,
       CAST(b.sp // b.n_routes AS BIGINT) AS avg_pred_ppm,
       CAST(b.sa // b.n_routes AS BIGINT) AS avg_actual_micro,
       f.iso_fit_micro
FROM b JOIN fit f ON b.bin = f.ib
ORDER BY b.bin"""
