"""Round-6 wave 4: Holt double-exponential smoothing, RFM segmentation,
and MMR result diversification.

* `events_holt` extends the EMA ladder (q_events_ema) with a TREND
  component — Holt's linear method (Holt 1957), the standard
  short-horizon forecaster for per-entity metric streams.
* `orders_rfm` is the classic recency/frequency/monetary customer
  segmentation, with all three quintile assignments computed by the
  banded distributed rank (rankutil) — no global sort at any metric.
* `search_mmr` is Maximal Marginal Relevance (Carbonell & Goldstein
  1998): greedy diversification of a retrieval candidate list, the
  standard last step of a RAG retrieval stack.

Exactness: Holt runs entirely in packed-integer state (see below); RFM
is integer arithmetic over exact cents/days; MMR uses the lambda = 2/3
rational form over exact int8 inner products so every selection argmax
compares BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import domain
from .similarity import N_QUERIES, quantized_df

# --- Holt double-exponential smoothing ----------------------------------------
# Recursion with dyadic gains (alpha = 1/2, beta = 1/4) over the last
# HOLT_WINDOW observations of each user's value stream:
#     l' = floor((x + l + t) / 2)
#     t' = floor((l' - l + 3t) / 4)
# seeded l0 = first value, t0 = 0; forecast = l + t.
#
# Engine-portable exact state: DuckDB's list_reduce requires the
# accumulator to have the LIST's element type, so the (level, trend)
# pair is packed into one BIGINT per step:
#     acc = (l + L_OFF) * PACK + (t + T_OFF)
# Field sizing: x (milli values) is in [0, ~5e5]; the recursions contract
# (l' averages nonnegative terms, t' keeps 3/4 of itself plus a bounded
# innovation), so |l|, |t| stay far below 2^30 over any 16-step fold from
# this value range — the offsets leave > 1000x headroom and the packed
# accumulator tops out near 2^62.  Floor division of possibly-negative
# trend terms is made engine-agnostic by adding a multiple of the divisor
# BEFORE dividing (both engines agree on nonnegative integer division),
# then subtracting it back — no truncate-vs-floor divergence can occur.
# The brute-force parity test recomputes every fold in Python, so any
# packing overflow would fail loudly there.
#
# Scale shape: identical to q_events_ema — one bounded ROWS frame per
# user (collect_list of <= HOLT_WINDOW ints), one row kept per user, the
# fold is a per-row O(W) expression.  No state crosses rows.

HOLT_WINDOW = 16
_PACK = 1 << 31
_L_OFF = 1 << 30
_T_OFF = 1 << 30
_DIV_OFF = 1 << 31          # added (as 2x and 4x multiples) before div

_FOLD_STEP = (
    # unpack: l = acc div PACK - L_OFF, t = acc % PACK - T_OFF
    "(acc, x) -> "
    f"((((x + (acc div {_PACK} - {_L_OFF}) + (acc % {_PACK} - {_T_OFF})) "
    f"   + {2 * _DIV_OFF}L) div 2 - {_DIV_OFF}L + {_L_OFF}L) * {_PACK}L "
    # t' = floor((l' - l + 3t) / 4); l' re-derived from the same terms
    f"+ ((((x + (acc div {_PACK} - {_L_OFF}) + (acc % {_PACK} - {_T_OFF})) "
    f"     + {2 * _DIV_OFF}L) div 2 - {_DIV_OFF}L "
    f"    - (acc div {_PACK} - {_L_OFF}) "
    f"    + 3 * (acc % {_PACK} - {_T_OFF}) + {4 * _DIV_OFF}L) div 4 "
    f"   - {_DIV_OFF}L + {_T_OFF}L))")


def q_events_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    milli = F.expr("CAST(floor(value * 1000) AS BIGINT)")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-(HOLT_WINDOW - 1), 0))
    wlast = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    rows = (e.select("user_id", "ts", "event_id", milli.alias("v"))
             .withColumn("arr", F.collect_list("v").over(w))
             .withColumn("rn", F.row_number().over(wlast))
             .filter(F.col("rn") == 1))
    seed = f"(arr[0] + {_L_OFF}L) * {_PACK}L + {_T_OFF}L"
    fold = (f"aggregate(slice(arr, 2, {HOLT_WINDOW}), {seed}, "
            f"{_FOLD_STEP})")
    return (rows.select(
                "user_id",
                F.size("arr").cast("int").alias("n_obs"),
                F.expr(f"({fold}) div {_PACK} - {_L_OFF}")
                 .cast("bigint").alias("level_milli"),
                F.expr(f"({fold}) % {_PACK} - {_T_OFF}")
                 .cast("bigint").alias("trend_milli"))
            .withColumn("forecast_milli",
                        F.col("level_milli") + F.col("trend_milli"))
            .orderBy("user_id"))


def sql_events_holt() -> str:
    import re as _re
    # DuckDB: floor `//` replaces Spark's `div` (identical on the
    # nonnegative operands the offsets guarantee) and has no L suffix
    step = _re.sub(r"(\d)L\b", r"\1",
                   _FOLD_STEP.replace(" div ", " // "))
    return f"""
WITH vals AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000) AS BIGINT) AS v
  FROM events
),
framed AS (
  SELECT user_id,
         list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {HOLT_WINDOW - 1} PRECEDING
                       AND CURRENT ROW) AS arr,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM vals
),
folded AS (
  SELECT user_id, CAST(len(arr) AS INT) AS n_obs,
         CAST(list_reduce(
             list_prepend(CAST((arr[1] + {_L_OFF}) * {_PACK} + {_T_OFF}
                               AS BIGINT),
                          arr[2:]),
             {step}) AS BIGINT) AS acc
  FROM framed WHERE rn = 1
)
SELECT user_id, n_obs,
       CAST(acc // {_PACK} - {_L_OFF} AS BIGINT) AS level_milli,
       CAST(acc % {_PACK} - {_T_OFF} AS BIGINT) AS trend_milli,
       CAST((acc // {_PACK} - {_L_OFF}) + (acc % {_PACK} - {_T_OFF})
            AS BIGINT) AS forecast_milli
FROM folded
ORDER BY user_id"""


# --- RFM customer segmentation ------------------------------------------------
# Recency (days since last order, vs the corpus max date), Frequency
# (order count), Monetary (lifetime cents) -> per-metric quintile 1..5
# (5 = best) -> the "RFM cell" string.  The classic CRM segmentation,
# done warehouse-native.
#
# Scale shape: one per-customer aggregate of orders; each quintile is a
# banded distributed rank (rankutil.banded_rank — NO global sort; bands
# ride value ranges) + the exact integer ntile arithmetic of
# text_perplexity_filter.  Oracle uses plain ntile windows
# (mathematically identical).

def _ntile5(rank_col: str, total_col: str) -> F.Column:
    return F.expr(f"""
        CASE WHEN {rank_col} <= ({total_col} % 5)
                  * ({total_col} div 5 + 1)
             THEN ({rank_col} - 1) div ({total_col} div 5 + 1) + 1
             ELSE {total_col} % 5
                  + ({rank_col} - ({total_col} % 5)
                     * ({total_col} div 5 + 1) - 1)
                    div greatest({total_col} div 5, 1L) + 1
        END""").cast("int")


def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    o = domain.load_table(spark, sf_dir, "orders")
    day = "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01') AS BIGINT)"
    per_cust = (o.groupBy("o_custkey")
                 .agg(F.expr(f"max({day})").alias("last_day"),
                      F.count(F.lit(1)).cast("bigint").alias("frequency"),
                      F.expr("CAST(sum(CAST(floor(o_totalprice * 100) "
                             "AS BIGINT)) AS BIGINT)").alias("monetary_c")))
    maxd = per_cust.agg(F.max("last_day").alias("corpus_last"))
    base = (per_cust.crossJoin(F.broadcast(maxd))
                    .withColumn("recency_days",
                                F.col("corpus_last") - F.col("last_day"))
                    .select("o_custkey", "recency_days", "frequency",
                            "monetary_c"))
    # quintiles: better = HIGHER score; recency ranks ascending (recent
    # first -> rank 1 -> quintile 5 via the 6-minus flip), frequency and
    # monetary rank ascending so the biggest values land in quintile 5
    r = banded_rank(base, [], band=F.expr("recency_days div 30"),
                    order_cols=[F.col("recency_days"), F.col("o_custkey")],
                    rank_name="r_rank", total_name="n_c")
    r = r.withColumn("r_q", 6 - _ntile5("r_rank", "n_c"))
    r = banded_rank(r, [], band=F.col("frequency"),
                    order_cols=[F.col("frequency"), F.col("o_custkey")],
                    rank_name="f_rank")
    r = r.withColumn("f_q", _ntile5("f_rank", "n_c"))
    r = banded_rank(r, [], band=F.expr("monetary_c div 100000"),
                    order_cols=[F.col("monetary_c"), F.col("o_custkey")],
                    rank_name="m_rank")
    r = r.withColumn("m_q", _ntile5("m_rank", "n_c"))
    return (r.select("o_custkey", "recency_days", "frequency", "monetary_c",
                     "r_q", "f_q", "m_q",
                     F.concat(F.col("r_q").cast("string"),
                              F.col("f_q").cast("string"),
                              F.col("m_q").cast("string")).alias("rfm_cell"))
             .orderBy("o_custkey"))


def sql_orders_rfm() -> str:
    day = ("CAST(datediff('day', DATE '1990-01-01', "
           "CAST(o_orderdate AS DATE)) AS BIGINT)")
    return f"""
WITH per_cust AS (
  SELECT o_custkey,
         max({day}) AS last_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_c
  FROM orders GROUP BY o_custkey
),
base AS (
  SELECT o_custkey,
         (SELECT max(last_day) FROM per_cust) - last_day AS recency_days,
         frequency, monetary_c
  FROM per_cust
),
q AS (
  SELECT o_custkey, recency_days, frequency, monetary_c,
         6 - ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_q,
         ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_q,
         ntile(5) OVER (ORDER BY monetary_c, o_custkey) AS m_q
  FROM base
)
SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
       frequency, monetary_c,
       CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
       CAST(m_q AS INT) AS m_q,
       CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
         || CAST(m_q AS VARCHAR) AS rfm_cell
FROM q
ORDER BY o_custkey"""


# --- Maximal Marginal Relevance diversification -------------------------------
# MMR (Carbonell & Goldstein 1998): from each query's top-C retrieval
# candidates, greedily pick K results maximizing
#     lambda * rel(q, c) - (1 - lambda) * max_{s in selected} sim(c, s).
# With lambda = 2/3 the selection objective scales to the exact integer
#     score3 = 2 * rel - max_sim
# over raw int8 inner products (rel and sim live on the same dot-product
# scale) — every argmax compares BIGINTs, ties break on vec_id, so the
# selection order is fully deterministic in both engines.
#
# Scale shape: the candidate set is K_CAND rows per query (the output of
# any ANN stage — here exact int8 top-C, the ann_cosine_topk_int8
# pattern) and the candidate-pair similarity table is K_CAND^2 per query
# — all bounded by RETRIEVAL constants, not the corpus.  The K greedy
# rounds run as a driver loop over that bounded frame (the BPE-rounds
# precedent); each round is one window argmax.  The oracle mirrors the
# rounds as a chained CTE.

MMR_CAND = 8
MMR_K = 4


def _mmr_base(spark: SparkSession, sf_dir: str):
    e = quantized_df(spark, sf_dir)
    qs = (e.filter(F.col("vec_id") < N_QUERIES)
           .select(F.col("vec_id").alias("query_id"),
                   F.col("qvec").alias("quvec")))
    idot = F.aggregate(F.zip_with(F.col("qvec"), F.col("quvec"),
                                  lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (domain.fan_out(e).crossJoin(F.broadcast(qs))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id", "qvec", idot.alias("rel")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id"))
    cand = (scored.withColumn("crank", F.row_number().over(w))
                  .filter(F.col("crank") <= MMR_CAND)
                  .select("query_id", "vec_id", "rel", "qvec"))
    a = cand.select("query_id", F.col("vec_id").alias("cand_id"),
                    "rel", F.col("qvec").alias("cvec"))
    b = cand.select(F.col("query_id").alias("query_id2"),
                    F.col("vec_id").alias("other_id"),
                    F.col("qvec").alias("ovec"))
    sim = F.aggregate(F.zip_with(F.col("cvec"), F.col("ovec"),
                                 lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    pair_sim = (a.join(b, (a.query_id == b.query_id2)
                       & (a.cand_id != b.other_id))
                 .select("query_id", "cand_id", "rel", "other_id",
                         sim.alias("sim")))
    return (a.select("query_id", "cand_id", "rel"), pair_sim)


def q_search_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 (VERDICT r12 item 3): cand/pair_sim are the query's serving-index
    # state — BOUNDED frames (N_QUERIES x MMR_CAND candidate rows and their
    # pairwise int8 dot products, corpus-size-independent row counts) whose
    # BUILD is the corpus sweep.  Admitted into the session-dim memoization
    # policy (OPTIMIZATION_r12.md "Session-memoization policy"): memoized
    # per (session, sf_dir) like the wsim dim; session GC releases the
    # storage.  The MMR selection loop below — the query's answer — is
    # recomputed on every invocation.
    def build():
        c, p = _mmr_base(spark, sf_dir)
        return c.cache(), p.cache()
    cand, pair_sim = domain.session_memo(spark, "mmr_base", sf_dir, build)
    selected = None   # (query_id, vec_id, mmr_rank, score3)
    remaining = cand
    for k in range(1, MMR_K + 1):
        if selected is None:
            scored = remaining.select(
                "query_id", "cand_id",
                (F.lit(2) * F.col("rel")).alias("score3"))
        else:
            sel_ids = selected.select("query_id",
                                      F.col("vec_id").alias("other_id"))
            max_sim = (pair_sim.join(sel_ids, ["query_id", "other_id"])
                       .groupBy("query_id", "cand_id")
                       .agg(F.max("sim").alias("max_sim")))
            scored = (remaining.join(max_sim, ["query_id", "cand_id"])
                      .select("query_id", "cand_id",
                              (F.lit(2) * F.col("rel")
                               - F.col("max_sim")).alias("score3")))
        w = Window.partitionBy("query_id").orderBy(
            F.col("score3").desc(), F.col("cand_id"))
        # r12: checkpoint each round's pick (one row per query — bounded at
        # any corpus size).  Without the cut, round k's scored frame
        # re-derived every earlier round's pick subtree on each action, so
        # the plan — and the executed work — grew quadratically in MMR_K
        # (the same lineage blowup the CC star loop fixed); the values are
        # unchanged, the rank window's cand_id tiebreak is total.
        pick = (scored.withColumn("rn", F.row_number().over(w))
                      .filter(F.col("rn") == 1)
                      .select("query_id",
                              F.col("cand_id").alias("vec_id"),
                              F.lit(k).alias("mmr_rank"),
                              "score3")
                      .localCheckpoint(eager=False))
        selected = pick if selected is None else selected.unionByName(pick)
        remaining = remaining.join(
            pick.select("query_id", F.col("vec_id").alias("cand_id")),
            ["query_id", "cand_id"], "left_anti")
    return (selected.select("query_id",
                            F.col("mmr_rank").cast("int").alias("mmr_rank"),
                            "vec_id", F.col("score3").cast("bigint")
                             .alias("score3"))
                    .orderBy("query_id", "mmr_rank"))


def sql_search_mmr() -> str:
    qx = ("CAST(round(least(greatest(CAST(embedding[i] AS DOUBLE), -1.0), "
          "1.0) * 127) AS BIGINT)")
    head = f"""
WITH qflat AS (
  SELECT vec_id, i, {qx} AS x
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
),
rels AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(sum(q.x * c.x) AS BIGINT) AS rel
  FROM qflat q JOIN qflat c ON q.i = c.i
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, cand_id, rel
  FROM (SELECT query_id, cand_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, cand_id) AS crank
        FROM rels)
  WHERE crank <= {MMR_CAND}
),
pair_sim AS (
  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
         CAST(sum(x1.x * x2.x) AS BIGINT) AS sim
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
  JOIN qflat x1 ON x1.vec_id = a.cand_id
  JOIN qflat x2 ON x2.vec_id = b.cand_id AND x1.i = x2.i
  GROUP BY 1, 2, 3
),
sel1 AS (
  SELECT query_id, cand_id AS vec_id, 1 AS mmr_rank,
         2 * rel AS score3
  FROM (SELECT query_id, cand_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY 2 * rel DESC, cand_id) AS rn
        FROM cand)
  WHERE rn = 1
)"""
    prev_sel = "sel1"
    parts = [head]
    for k in range(2, MMR_K + 1):
        sels = " UNION ALL ".join(
            f"SELECT * FROM sel{i}" for i in range(1, k))
        parts.append(f""",
seln{k} AS ({sels}),
scored{k} AS (
  SELECT c.query_id, c.cand_id,
         2 * c.rel - max(p.sim) AS score3
  FROM cand c
  JOIN pair_sim p ON p.query_id = c.query_id AND p.cand_id = c.cand_id
  JOIN seln{k} s ON s.query_id = p.query_id AND s.vec_id = p.other_id
  WHERE NOT EXISTS (SELECT 1 FROM seln{k} s2
                    WHERE s2.query_id = c.query_id
                      AND s2.vec_id = c.cand_id)
  GROUP BY c.query_id, c.cand_id, c.rel
),
sel{k} AS (
  SELECT query_id, cand_id AS vec_id, {k} AS mmr_rank, score3
  FROM (SELECT query_id, cand_id, score3,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score3 DESC, cand_id) AS rn
        FROM scored{k})
  WHERE rn = 1
)""")
        prev_sel = f"sel{k}"
    allsel = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, MMR_K + 1))
    parts.append(f"""
SELECT query_id, CAST(mmr_rank AS INT) AS mmr_rank, vec_id,
       CAST(score3 AS BIGINT) AS score3
FROM ({allsel})
ORDER BY query_id, mmr_rank""")
    return "".join(parts)


# --- Holt backtest (one-step-ahead holdout evaluation) ------------------------
# The forecaster's accountability loop: hold out each user's LAST
# observation, fit the same dyadic Holt recursion on the window ENDING
# at the second-to-last observation, and score the one-step forecast
# against the held-out actual.  Per-user exact integer errors; users
# with a single observation have nothing to backtest and are excluded.
#
# Scale shape: the same one-window pass as q_events_holt — the fit frame
# is the bounded ROWS window evaluated at rn = 2, the actual rides
# rn = 1, and the two single-row-per-user frames join on user_id.

def q_events_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = domain.load_table(spark, sf_dir, "events")
    milli = F.expr("CAST(floor(value * 1000) AS BIGINT)")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-(HOLT_WINDOW - 1), 0))
    wlast = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    rows = (e.select("user_id", "ts", "event_id", milli.alias("v"))
             .withColumn("arr", F.collect_list("v").over(w))
             .withColumn("rn", F.row_number().over(wlast)))
    seed = f"(arr[0] + {_L_OFF}L) * {_PACK}L + {_T_OFF}L"
    fold = (f"aggregate(slice(arr, 2, {HOLT_WINDOW}), {seed}, "
            f"{_FOLD_STEP})")
    fit = (rows.filter(F.col("rn") == 2)
               .select("user_id",
                       F.size("arr").cast("int").alias("n_fit"),
                       (F.expr(f"({fold}) div {_PACK} - {_L_OFF}")
                        + F.expr(f"({fold}) % {_PACK} - {_T_OFF}"))
                       .cast("bigint").alias("forecast_milli")))
    actual = (rows.filter(F.col("rn") == 1)
                  .select("user_id", F.col("v").alias("actual_milli")))
    return (fit.join(actual, "user_id")
               .select("user_id", "n_fit", "forecast_milli",
                       "actual_milli",
                       F.abs(F.col("forecast_milli")
                             - F.col("actual_milli")).cast("bigint")
                        .alias("abs_err_milli"))
               .orderBy("user_id"))


def sql_events_forecast_eval() -> str:
    import re as _re
    step = _re.sub(r"(\d)L\b", r"\1",
                   _FOLD_STEP.replace(" div ", " // "))
    return f"""
WITH vals AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000) AS BIGINT) AS v
  FROM events
),
framed AS (
  SELECT user_id, v,
         list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {HOLT_WINDOW - 1} PRECEDING
                       AND CURRENT ROW) AS arr,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM vals
),
fit AS (
  SELECT user_id, CAST(len(arr) AS INT) AS n_fit,
         CAST((list_reduce(
                 list_prepend(CAST((arr[1] + {_L_OFF}) * {_PACK}
                                   + {_T_OFF} AS BIGINT), arr[2:]),
                 {step}) // {_PACK} - {_L_OFF})
              + (list_reduce(
                 list_prepend(CAST((arr[1] + {_L_OFF}) * {_PACK}
                                   + {_T_OFF} AS BIGINT), arr[2:]),
                 {step}) % {_PACK} - {_T_OFF}) AS BIGINT)
           AS forecast_milli
  FROM framed WHERE rn = 2
),
actual AS (SELECT user_id, v AS actual_milli FROM framed WHERE rn = 1)
SELECT f.user_id, f.n_fit, f.forecast_milli,
       CAST(a.actual_milli AS BIGINT) AS actual_milli,
       CAST(abs(f.forecast_milli - a.actual_milli) AS BIGINT)
         AS abs_err_milli
FROM fit f JOIN actual a USING (user_id)
ORDER BY f.user_id"""


# --- STL-lite seasonal decomposition of the daily event series -----------------
# The classic decompose: trend = centered 7-day moving average of the
# daily count, seasonal = per-day-of-week mean of the detrended series,
# residual = remainder.  All exact integers in milli units: the MA is
# sum-over-7 div 7 (exact), the seasonal mean is a signed integer
# quotient (Spark div == DuckDB // — both truncate toward zero), the
# residual is a difference.  Only interior days (full +-3 window) are
# emitted, so every row's trend is a TRUE 7-day average.
#
# Scale shape: everything runs on the per-(type, day) DAILY table —
# bounded by the time range, never the corpus; the raw stream is
# touched once by a map-side-combined count.

STL_HALF = 3                      # +-3 days -> 7-day centered window


def q_events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from .. import domain
    day_ns = 86_400_000_000_000
    e = domain.load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type",
                       F.expr(f"ts div {day_ns}").alias("day"))
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rowsBetween(-STL_HALF, STL_HALF))
    t = (daily.withColumn("w_n", F.count(F.lit(1)).over(w))
              .withColumn("w_sum", F.sum("n").over(w))
              .filter(F.col("w_n") == 2 * STL_HALF + 1)
              .withColumn("trend_milli",
                          F.expr(f"w_sum * 1000 div {2 * STL_HALF + 1}"))
              .withColumn("detr_milli",
                          F.expr("n * 1000 - trend_milli")))
    seas = (t.withColumn("dow", F.expr("day % 7"))
             .groupBy("event_type", "dow")
             .agg(F.expr("CAST(sum(detr_milli) div count(1) AS BIGINT)")
                   .alias("seasonal_milli")))
    return (t.withColumn("dow", F.expr("day % 7"))
             .join(F.broadcast(seas), ["event_type", "dow"])
             .select("event_type",
                     F.col("day").cast("bigint").alias("day"),
                     F.col("n").cast("bigint").alias("n_events"),
                     F.col("trend_milli").cast("bigint")
                      .alias("trend_milli"),
                     "seasonal_milli",
                     F.expr("CAST(detr_milli - seasonal_milli AS BIGINT)")
                      .alias("resid_milli"))
             .orderBy("event_type", "day"))


def sql_events_seasonality() -> str:
    day_ns = 86_400_000_000_000
    win = 2 * STL_HALF + 1
    return f"""
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // {day_ns} AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, day, n,
         count(*) OVER wfull AS w_n,
         sum(n) OVER wfull AS w_sum
  FROM daily
  WINDOW wfull AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {STL_HALF} PRECEDING
                   AND {STL_HALF} FOLLOWING)
),
interior AS (
  SELECT event_type, day, n,
         w_sum * 1000 // {win} AS trend_milli,
         n * 1000 - w_sum * 1000 // {win} AS detr_milli
  FROM t WHERE w_n = {win}
),
seas AS (
  SELECT event_type, day % 7 AS dow,
         CAST(sum(detr_milli) // count(*) AS BIGINT) AS seasonal_milli
  FROM interior GROUP BY 1, 2
)
SELECT i.event_type, CAST(i.day AS BIGINT) AS day,
       i.n AS n_events,
       CAST(i.trend_milli AS BIGINT) AS trend_milli,
       s.seasonal_milli,
       CAST(i.detr_milli - s.seasonal_milli AS BIGINT) AS resid_milli
FROM interior i
JOIN seas s ON i.event_type = s.event_type AND i.day % 7 = s.dow
ORDER BY i.event_type, i.day"""
