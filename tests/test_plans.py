"""Physical-plan audits: the scale properties the engine claims must be
visible in `explain` output — broadcasts where intended, pushed filters,
no accidental cartesian products, codegen coverage."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from safeascent_spark import domain
from safeascent_spark.operators import batch as B
from safeascent_spark.operators import dedup as D
from safeascent_spark.operators import rangejoin as RJ
from safeascent_spark.operators import scoring
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def n_ops(plan: str, op: str) -> int:
    """Count operator INSTANCES in a formatted plan (each instance prints
    twice: once in the tree, once as its '(n) Op' detail header)."""
    return len(re.findall(rf"\(\d+\) {op}\b", plan))


def test_risk_scores_plan_shape(spark):
    plan = plan_of(scoring.risk_scores_df(spark, SF_SMOKE))
    # accident-class + wsim dims ride broadcasts; the probe side streams
    assert plan.count("BroadcastExchange") >= 2
    # final aggregation is partial (map-side combine before the shuffle)
    assert "partial_sum" in plan
    # the pair stage is a broadcast HASH join on route_type (the factorized
    # accident_class_dim); the only nested-loop join allowed is the bounded
    # 7 x |accidents| dim build inside the broadcast subtree
    assert "BroadcastHashJoin" in plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_ops(plan, "CartesianProduct") == 0


def test_capped_scoring_is_grid_equi_join(spark):
    """The 300 km-capped scoring path must pair routes with accidents via
    the (route_type, grid cell) equi-join — never a full cross join: the
    only nested-loop join allowed is the bounded 7 x |accidents| dim build
    inside the broadcast subtree."""
    df = scoring.risk_scores_capped_df(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") <= 1
    # the pair join carries the cell keys
    assert re.search(r"cx#\d+", plan) and re.search(r"cy#\d+", plan), plan[:3000]


def test_capped_scoring_is_monotone_below_full(spark):
    """Capped risk sums a subset of the full query's non-negative influence
    terms, so per route: capped risk <= full risk (and the capped result
    only contains routes with >= 1 in-radius accident)."""
    full = {r.route_id: r.risk_score
            for r in scoring.risk_scores_df(spark, SF_SMOKE).collect()}
    capped = scoring.risk_scores_capped_df(spark, SF_SMOKE).collect()
    assert 0 < len(capped) <= len(full)
    for row in capped:
        assert row.risk_score <= full[row.route_id] + 1e-6, row


def test_top_contributors_truncates_before_window(spark):
    """W1 must pre-truncate each map partition to its local top-k per route
    BEFORE the global window's exchange (exact-superset reduction): Spark's
    WindowGroupLimit rewrite (SPARK-37099) must fire in Partial mode below
    the shuffle, so it carries ~|routes|*k rows, not every significant pair.
    (Round 3 hand-rolled this as an Arrow mapInPandas stage — redundant with
    the native rewrite and ~1M rows of extra Arrow serialization at sf0.1;
    this test also guards against that stage creeping back in.)"""
    plan = plan_of(scoring.top_contributors_df(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan[plan.find("WindowGroupLimit"):], plan
    assert "MapInPandas" not in plan, plan


def test_column_pruning_reaches_scan(spark):
    """Projection pruning: a 2-column query must not scan all columns."""
    df = domain.routes_df(spark, SF_SMOKE).select("route_id", "location_id")
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert m.group(1).count(":") == 1, f"over-wide scan: {m.group(1)}"


def test_filter_pushdown_reaches_scan(spark):
    df = domain.load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderkey") == 5).select("o_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,5)]" in plan


def test_range_join_is_not_nested_loop(spark):
    """The week-bucketed band join must be an equi hash join, not BNLJ."""
    plan = plan_of(RJ.q_weather_range_join(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_join_is_equi_not_cross(spark):
    """Near-dup mining must use the shingle inverted index (equi join)."""
    plan = plan_of(D.q_dedup_jaccard(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_capped_batch_is_grid_equi_join(spark):
    """The capped classed pipeline must pair locations with accidents via
    the grid-cell equi-join (no cross join anywhere in the base stage)."""
    df = B.batch_scores_capped_df(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    assert re.search(r"cx#\d+", plan) and re.search(r"cy#\d+", plan)


def test_batch_classed_no_cartesian_on_route_join(spark):
    """The route-level adjustment join is an equi join on location_id."""
    plan = plan_of(B.batch_scores_classed_df(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # intentional BNLJ: locations x accidents (+ cached-dim subplan)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_cache_warming_topn_below_cross_join(spark):
    """Top-N selection must be a distributed TakeOrderedAndProject feeding
    the scoring cross join (only N routes enter the pair stage), with no
    single-partition window over the full routes table."""
    plan = plan_of(scoring.cache_warming_df(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    # the one Window ranks the bounded top-N result and must carry a
    # partition spec (an empty spec would be the global-sort shape)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "specifiedwindowframe" in m.group(1).replace(" ", "") \
            or m.group(1).count(",") >= 2, m.group(0)


def test_no_unpartitioned_windows_anywhere(spark):
    """Every Window in every registered query must carry a partition spec —
    'WindowExec: No Partition Defined' moves the full input to one task.

    Caveat (structural audit only): a handful of queries in text.py /
    relational.py / scoring.py deliberately rank an ALREADY-BOUNDED input
    (a TakeOrderedAndProject top-N or a <=256-row aggregate) with a
    constant `col % 1` partition key.  Such a window still executes on one
    task — fine for bounded inputs, a scale bug over unbounded ones — and
    this sweep cannot tell the two apart, because `% 1` survives constant
    folding precisely so the spec is non-empty.  Any NEW `% 1` window must
    come with a boundedness argument at its definition site; do not use it
    to silence this test on an unbounded input."""
    import __spark_entry__ as entry
    offenders = []
    for name, q in entry.queries().items():
        if name.startswith("ml_") or name in ("ann_ivf_topk",
                                              "embedding_kmeans_cells"):
            continue  # MLlib internals own their plans
        plan = plan_of(q(spark, SF_SMOKE))
        for m in re.finditer(r"windowspecdefinition\((.*?)\)", plan):
            args = m.group(1)
            # spec args: [part cols...,] order cols..., frame; an order-only
            # spec starts directly with a sort direction marker
            first = args.split(",")[0].strip()
            if first.endswith("ASC NULLS FIRST") or \
               first.endswith("DESC NULLS LAST") or \
               first.endswith("ASC NULLS LAST") or \
               first.endswith("DESC NULLS FIRST"):
                offenders.append((name, m.group(0)[:120]))
    assert not offenders, offenders


# The ONLY sanctioned constant-key (`% 1`) window sites.  Each ranks an
# input already bounded at its definition site (top-N TakeOrdered result or
# a <=256-row aggregate); the boundedness argument lives in a comment at
# each site.  VERDICT r3 item 8: the structural window audit above cannot
# distinguish bounded from unbounded constant-key windows, so any NEW site
# must be reviewed for boundedness and added here — an unlisted one fails.
CONSTANT_KEY_WINDOW_ALLOWLIST = {
    # brier global totals: input is the <= BRIER_BINS-row bin aggregate
    # (bounded by construction — the orders_pareto device)
    ("safeascent_spark/operators/evalrank.py", 'F.col("bin") % 1'),
    ("safeascent_spark/operators/relational.py", 'F.col("route_id") % 1'),
    ("safeascent_spark/operators/text.py", 'F.length("bkt") % 1'),
    ("safeascent_spark/operators/text.py", 'F.length("word") % 1'),
    ("safeascent_spark/operators/scoring.py", 'F.col("route_id") % 1'),
    # RRF sparse-leg rank: input is the <= BM25_TOP_K-row TakeOrdered
    # result of q_text_bm25_topk (bounded by construction)
    ("safeascent_spark/operators/similarity.py", 'F.col("doc_id") % 1'),
    # skyline cross-band offsets: <= price_range / SKYLINE_BAND_CENTS
    # rows (value-range bands, corpus-size-independent); KM life table:
    # <= |observed days| rows (durations are day counts)
    ("safeascent_spark/operators/analytics.py", 'F.col("band") % 1'),
    ("safeascent_spark/operators/analytics.py", 'F.col("duration") % 1'),
    # monthly PoP-growth frame: <= |calendar months| rows
    ("safeascent_spark/operators/analytics.py", 'F.col("m") % 1'),
    # groupless banded_rank offset/total windows: the input is the
    # band-COUNT table (one row per band, value range / band width —
    # corpus-size-independent by the caller's band contract)
    ("safeascent_spark/operators/rankutil.py", 'F.col("__band") % 1'),
    # orders_pareto cumulative/total windows: input is the <= 10-row
    # decile aggregate (bounded by construction)
    ("safeascent_spark/operators/olap.py", 'F.col("decile") % 1'),
    # orders_abc_class higher-band offset/total windows: input is the
    # revenue-band TOTALS table (one row per band, revenue range /
    # band width — corpus-size-independent)
    ("safeascent_spark/operators/olap.py", 'F.col("band") % 1'),
    # ml_gains_deciles cumulative/total windows: input is the 10-row
    # decile aggregate (bounded by construction — GAINS_DECILES rows)
    ("safeascent_spark/operators/evalrank.py", 'F.col("decile") % 1'),
}


def test_constant_key_windows_are_allowlisted():
    """Source sweep: every `partitionBy(<expr> % 1)` site must be in
    CONSTANT_KEY_WINDOW_ALLOWLIST.  Guards against a future unbounded
    constant-key window gaming test_no_unpartitioned_windows_anywhere."""
    import pathlib
    root = pathlib.Path(__file__).resolve().parent.parent
    found = set()
    for p in sorted((root / "safeascent_spark").rglob("*.py")):
        for line in p.read_text().splitlines():
            if "partitionBy(" in line and "% 1)" in line:
                m = re.search(r"partitionBy\((.*% 1)\)", line)
                assert m, (p, line)
                found.add((str(p.relative_to(root)), m.group(1).strip()))
    assert found <= CONSTANT_KEY_WINDOW_ALLOWLIST, (
        "new constant-key window site(s) — prove boundedness at the "
        f"definition site, then allowlist: {found - CONSTANT_KEY_WINDOW_ALLOWLIST}")
    # the allowlist itself must not go stale
    assert found == CONSTANT_KEY_WINDOW_ALLOWLIST, (
        f"stale allowlist entries: {CONSTANT_KEY_WINDOW_ALLOWLIST - found}")


def test_jaccard_hot_set_is_anti_join(spark):
    """The df-cap must appear as a broadcast LEFT ANTI join in the plan."""
    plan = plan_of(D.q_dedup_jaccard(spark, SF_SMOKE))
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan) or \
        "LeftAnti" in plan, plan


def test_embedding_neardup_is_banded_equi_join(spark):
    """Corpus-wide embedding near-dup mining must be an equi join on
    (band, sig) — 2^16 buckets per band — never a cartesian/NLJ sweep
    (the round-2 16-bucket scheme was quadratic-within-bucket at scale)."""
    from safeascent_spark.operators import similarity as SIM
    df = SIM.q_dedup_embedding_cosine(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert SIM.N_BANDS * SIM.BAND_BITS == 128
    # all 128 hyperplanes must be distinct (the old formula had period 7)
    planes = {tuple(SIM._band_plane(j, d) for d in range(SIM.DIM))
              for j in range(SIM.N_PLANES)}
    assert len(planes) == SIM.N_PLANES


def test_embedding_neardup_finds_seeded_twins(spark):
    """Non-vacuous evidence: every seeded twin pair must surface with
    cosine >= the threshold (banding recall ~1 for cosine ~0.998)."""
    from safeascent_spark.operators import similarity as SIM
    rows = SIM.q_dedup_embedding_cosine(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    twins = {(r.vec_a, r.vec_b) for r in rows
             if r.vec_b - r.vec_a == SIM.TWIN_OFFSET}
    n_vecs = SIM.embeddings_df(spark, SF_SMOKE).count()
    expected = min(SIM.TWIN_COUNT, n_vecs)
    assert len(twins) == expected, (len(twins), expected)
    assert all(r.cosine >= SIM.NEARDUP_COSINE for r in rows)


def test_codegen_covers_scoring_stage(spark):
    # formatted mode omits codegen annotations; simple mode marks codegen'd
    # operators with "*(n)".  AQE inserts whole-stage codegen as it plans
    # each stage, so the markers are read from the final plan, after the
    # query ran: the pair projection (the haversine's EXP) must carry one.
    # Before the run, the only markers were in cached subtrees' plans.
    df = scoring.risk_scores_df(spark, SF_SMOKE)
    df.collect()
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert simple.count("*(") >= 1
    assert re.search(r"\*\(\d+\) Project \[[^\n]*EXP\(", simple), \
        simple[:3000]


def test_text_chunks_single_exchange(spark):
    """Chunking is per-row array algebra: the only Exchange allowed in the
    plan is the final presentation sort's range partitioning — the chunk
    generation itself (sequence/explode/slice) must not shuffle."""
    from safeascent_spark.operators import text as TX
    plan = plan_of(TX.q_text_chunks(spark, SF_SMOKE))
    # formatted explain prints each operator twice (tree + details)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
    assert "Generate" in plan, plan             # the chunk-index explode


def test_pack_offsets_equals_global_window(spark):
    """The two-level prefix-sum decomposition must reproduce the single
    global-window-per-language form EXACTLY (integer arithmetic), and its
    windows must be partitioned by (lang, seg) — never one task per lang."""
    from pyspark.sql import Window as PW
    from safeascent_spark.operators import text as TX
    got = {(r.lang, r.doc_id): (r.n_tokens, r.start_off, r.bin_id,
                                r.bin_off, r.spans_bins)
           for r in TX.q_text_pack_offsets(spark, SF_SMOKE).collect()}
    d = TX.docs_df(spark, SF_SMOKE)
    ntok = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    w = (PW.partitionBy("lang").orderBy("doc_id")
           .rowsBetween(PW.unboundedPreceding, 0))
    ref = d.select("lang", "doc_id", ntok.cast("bigint").alias("t")) \
           .withColumn("start", F.sum("t").over(w) - F.col("t")).collect()
    assert len(ref) == len(got) > 0
    for r in ref:
        assert got[(r.lang, r.doc_id)][1] == r.start, (r, got[(r.lang, r.doc_id)])
    # at least one doc straddles a window boundary (non-vacuous)
    assert any(v[4] for v in got.values())


def test_stratified_sample_broadcasts_rates(spark):
    """The per-stratum rate table must ride a broadcast; the corpus scan
    must not shuffle (one Exchange for the tiny rate aggregate + the final
    sort only)."""
    from safeascent_spark.operators import text as TX
    plan = plan_of(TX.q_sample_stratified(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _manifest_files(df, partition: str) -> tuple[set, set]:
    """(files ``df`` scans, files of ``partition`` in the head manifest
    of the txlog table those files belong to)."""
    from safeascent_spark import txlog
    scanned = {f.removeprefix("file:") for f in df.inputFiles()}
    root = next(iter(scanned)).split("/data/")[0]
    listed = {f"{root}/{e['path']}" for e in
              txlog.read_manifest(root)["partitions"][partition]}
    return scanned, listed


def test_score_sink_partition_pruning(spark, tmp_path):
    """The date-partitioned score table must prune partitions on read: a
    single-date read scans that date's manifest files, not the table."""
    from safeascent_spark import txlog
    from safeascent_spark.operators import batch as B
    path = str(tmp_path / "scores")
    for d in ("2024-06-15", "2024-06-16"):
        txlog.commit_overwrite_partition(B.batch_scores_df(spark, SF_SMOKE),
                                         path, d)
    df = txlog.read_snapshot(spark, path, partition="2024-06-15")
    scanned, listed = _manifest_files(df, "2024-06-15")
    assert scanned == listed, (scanned, listed)
    assert df.count() == B.batch_scores_df(spark, SF_SMOKE).count()


def test_domain_quota_truncates_before_window(spark):
    """The per-source quota sampler claims per-group top-k semantics: the
    row_number <= k filter must fire the WindowGroupLimit rewrite in
    Partial mode (map-side truncation to k rows per source BEFORE the
    shuffle) — the property that makes the exchange O(#sources * k)."""
    from safeascent_spark.operators import text as TX
    plan = plan_of(TX.q_sample_domain_quota(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan[plan.find("WindowGroupLimit"):], plan


def test_decontam_substring_is_broadcast_equi_join(spark):
    """Exact-substring decontamination must be the token-window inverted
    index (broadcast HASH join on the window string), never a
    contains()-driven nested loop over |docs| x |frags|."""
    plan = plan_of(D.q_decontam_substring(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert n_ops(plan, "CartesianProduct") == 0, plan


def test_unigram_lm_is_broadcast_scored(spark):
    """The unigram model rides a broadcast back onto the token stream (no
    shuffle of the corpus for the probability lookup), and the per-doc
    aggregation is map-side combined."""
    from safeascent_spark.operators import text as TX
    plan = plan_of(TX.q_text_unigram_lm(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "partial_avg" in plan, plan
    assert n_ops(plan, "Window") == 0, plan


def test_dedup_incremental_broadcasts_the_batch(spark):
    """Incremental ingest dedup must broadcast the NEW BATCH's bands and
    signatures onto the streaming corpus — never shuffle or cross-pair the
    corpus side.  ADVICE r4: the SCORING leg too — the corpus signature
    table must ride a BroadcastHashJoin as the STREAMED side (the bounded
    cand x batch aggregate builds), so no SortMergeJoin — and therefore no
    shuffle of the corpus index — may appear anywhere in the plan."""
    plan = plan_of(D.q_dedup_incremental(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert n_ops(plan, "CartesianProduct") == 0, plan
    assert n_ops(plan, "SortMergeJoin") == 0, plan
    assert n_ops(plan, "ShuffledHashJoin") == 0, plan
    # the scoring join builds the candidate side (BuildLeft), streaming oa
    assert re.search(r"BroadcastHashJoin Inner BuildLeft", plan), plan


def test_ann_filtered_topk_prefilters_and_truncates(spark):
    """Filtered vector search must join on the label equality (a hash
    join key evaluated before the O(DIM) dot product — pre-filter, not
    post-filter) and truncate the per-query top-k map-side."""
    from safeascent_spark.operators import similarity as SIM
    plan = plan_of(SIM.q_ann_filtered_topk(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert n_ops(plan, "CartesianProduct") == 0, plan


def test_ann_filtered_ivf_candidates_are_cell_label_equi_join(spark):
    """Filtered-IVF candidate generation must be a (cell, label) HASH
    join against the broadcast probe list — the label prunes before any
    O(DIM) arithmetic and only probed cells' rows are scored.  The only
    nested-loop join allowed anywhere in the full query is the bounded
    |queries| x N_CENTROIDS centroid-ranking stage; no CartesianProduct."""
    from safeascent_spark import ml as ML
    corpus, probed = ML.filtered_ivf_candidates(spark, SF_SMOKE)
    cand = (corpus.alias("c")
                  .join(F.broadcast(probed).alias("p"),
                        (F.col("c.cell") == F.col("p.cell"))
                        & (F.col("c.label") == F.col("p.qlabel"))))
    plan = plan_of(cand)
    assert "BroadcastHashJoin" in plan, plan
    assert n_ops(plan, "CartesianProduct") == 0, plan
    # the hash-join key list carries BOTH the cell and the label
    m = re.search(r"Left keys \[2\]: \[([^\]]*)\]", plan)
    assert m, plan
    assert "cell" in m.group(1) and "label" in m.group(1), m.group(0)
    # full query: the only BNLJs are the bounded |queries| x N_CENTROIDS
    # centroid-ranking stage — it appears twice because the recall-
    # certification leg re-derives the IVF subtree (no reuse node)
    full = plan_of(ML.q_ann_filtered_ivf(spark, SF_SMOKE))
    assert n_ops(full, "CartesianProduct") == 0, full
    assert n_ops(full, "BroadcastNestedLoopJoin") <= 2, full


def test_sample_mixture_is_single_broadcast_pass(spark):
    """The mixture sampling pass must be a broadcast of the |domains|-row
    rate table onto the corpus scan — no corpus-side SortMergeJoin; the
    only exchanges are the tiny inventory aggregates and the final sort."""
    from safeascent_spark.operators import text as TX
    plan = plan_of(TX.q_sample_mixture(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    assert n_ops(plan, "SortMergeJoin") == 0, plan
    assert n_ops(plan, "CartesianProduct") == 0, plan


def test_containment_join_is_equi_not_cross(spark):
    """Containment pair generation must ride the shingle inverted index
    (equi-join on sid) — no doc x doc cartesian anywhere."""
    plan = plan_of(D.q_dedup_containment(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0


def test_heavy_hitters_exchange_is_candidates_only(spark):
    """The exact-confirm groupBy runs AFTER the broadcast candidate
    semi-join, so the wide exchange never carries the vocabulary long
    tail, and the pre-shuffle aggregate is map-side combined."""
    from safeascent_spark.operators import text as T
    plan = plan_of(T.q_text_heavy_hitters(spark, SF_SMOKE))
    assert "BroadcastExchange" in plan       # candidate set broadcasts
    assert "partial_count" in plan           # map-side combine
    assert n_ops(plan, "CartesianProduct") == 0


def test_asof_join_is_a_single_keyed_window_not_a_join(spark):
    """The as-of operator must compile to union -> one hash exchange on
    user_id -> sort -> window (carry-forward last), with NO join operator
    anywhere: the band-join/argmax formulation would shuffle both sides
    into a pair blowup.  The only other exchange is the presentation
    orderBy's range partitioning."""
    from safeascent_spark.operators import analytics as A
    plan = plan_of(A.q_events_asof_view(spark, SF_SMOKE))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert n_ops(plan, op) == 0, (op, plan[:2000])
    assert n_ops(plan, "Window") == 1
    # exactly one hash exchange, keyed on user_id (the final orderBy's
    # range exchange is presentation-only)
    hash_ex = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    assert hash_ex == ["user_id"], plan[:2000]


def test_anomaly_and_pagerank_plans_stay_bounded(spark):
    """events_anomaly: corpus pass is a partial-aggregated (type, day)
    count; the med/MAD joins ride broadcasts of the tiny per-type frames.
    graph_pagerank: every iteration is equi-join + partial agg — no
    cartesian anywhere despite 5 chained iterations."""
    from safeascent_spark.operators import analytics as A
    from safeascent_spark.operators import graph as G
    plan = plan_of(A.q_events_anomaly(spark, SF_SMOKE))
    assert "partial_count" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert n_ops(plan, "CartesianProduct") == 0
    plan = plan_of(G.q_graph_pagerank(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "partial_sum" in plan


def test_collocations_support_floor_precedes_the_vocab_joins(spark):
    """The c_xy >= PMI_MIN_COUNT floor must sit BELOW the unigram joins
    (candidates are filtered before any exchange-heavy join), and the only
    nested-loop join is the bounded 1-row n_total broadcast."""
    from safeascent_spark.operators import text as T
    plan = plan_of(T.q_text_collocations(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") <= 1
    assert "partial_count" in plan
    # the min-count filter exists as a HAVING-style post-agg filter
    assert re.search(r"c_xy#\d+L? >= 5", plan), plan[:3000]


def test_bm25_single_scan_and_truncation(spark):
    """BM25 must scan the corpus ONCE (df(t) is a window over the
    term-filtered posting table, not a re-aggregated join over a second
    scan), end in a distributed TakeOrderedAndProject, map-side combine
    the posting aggregation, and contain no joins at all."""
    from safeascent_spark.operators import text as T
    plan = plan_of(T.q_text_bm25_topk(spark, SF_SMOKE))
    # r13: the tokenize pass lives behind the shared (doc_id, dl, qw)
    # checkpoint (one pass serves stats AND posting); the declared plan
    # reads the checkpoint, the probe below pins the single corpus scan.
    assert n_ops(plan, "Scan parquet") == 0, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "partial_count" in plan
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0, plan[:3000]
    from safeascent_spark import domain
    base_plan = plan_of(
        domain.CHECKPOINTS["bm25_topk_base_frame"](spark, SF_SMOKE))
    assert n_ops(base_plan, "Scan parquet") == 1, base_plan[:2000]
    assert n_ops(base_plan, "Exchange") == 0, base_plan[:2000]


def test_hybrid_rrf_fusion_is_bounded(spark):
    """Both RRF legs end in a top-k truncation (TakeOrdered for BM25,
    WindowGroupLimit for the dense leg), so the fusion join touches only
    <= k-row inputs; no cartesian anywhere."""
    from safeascent_spark.operators import similarity as S
    plan = plan_of(S.q_search_hybrid_rrf(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" in plan
    assert n_ops(plan, "CartesianProduct") == 0


def test_phash_pairs_is_banded_equi_join(spark):
    """Image near-dup candidates must come from the (band, value) equi-join
    over the exploded band table — never a cross join.  The decode must
    NOT appear in the consumer plan at all: the hash frame is
    localCheckpoint'ed (VERDICT r10 #1 — 8 redundant full-corpus PNG
    decode passes before the fix), so every plan branch reads the
    materialized ExistingRDD and zero MapInPandas nodes survive."""
    from safeascent_spark.operators import multimodal as M
    plan = plan_of(M.q_multimodal_phash_pairs(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    assert plan.count("MapInPandas") == 0, "decode leaked past checkpoint"
    assert "ExistingRDD" in plan


def test_phash_decode_stage_is_arrow_and_runs_once(spark):
    """The encode and decode/hash stages themselves must be Arrow
    mapInPandas (the real-codec contract), and the checkpointed frame
    handed to consumers must materialize the decode exactly once: the
    knn/clusters plans may not contain a single MapInPandas node."""
    from safeascent_spark.operators import multimodal as M
    raw = M.extract_png_ahash(M.png_media_grad_df(spark, SF_SMOKE))
    assert plan_of(raw).count("MapInPandas") >= 2
    for q in (M.q_multimodal_phash_knn, M.q_multimodal_phash_clusters):
        assert plan_of(q(spark, SF_SMOKE)).count("MapInPandas") == 0


def test_bpe_encode_broadcasts_vocabulary(spark):
    """Tokenizer application must broadcast the per-word segmentation table
    onto the token stream (vocabulary-grain unit of work) — no sort-merge
    join of the corpus against the vocabulary."""
    from safeascent_spark.operators import text as T
    plan = plan_of(T.q_bpe_encode(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert n_ops(plan, "SortMergeJoin") == 0, plan[:3000]
    assert "partial_count" in plan or "partial_sum" in plan


def test_contrastive_negatives_need_no_similarity_math(spark):
    """The negative path must be hash + anti-join + WindowGroupLimit — the
    positive set comes in as a broadcast, and the only per-element array
    math in the plan belongs to the positive (cosine) leg."""
    from safeascent_spark.operators import similarity as S
    plan = plan_of(S.q_sample_contrastive_pairs(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert n_ops(plan, "SortMergeJoin") == 0, plan[:3000]


def test_winnowing_pairs_is_capped_equi_join(spark):
    """Pair candidates must ride the fingerprint equi-join with the
    hot-value broadcast anti-join applied first; no cartesian, no
    position self-joins."""
    from safeascent_spark.operators import dedup as D
    plan = plan_of(D.q_winnowing_pairs(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "LeftAnti" in plan, plan[:3000]
    assert "partial_count" in plan


def test_bm25_multi_scans_corpus_once(spark):
    """The multi-query form must read the documents scan ONCE for all
    queries (query dim broadcast onto a shared posting list) and truncate
    per query below the exchange."""
    from safeascent_spark.operators import text as T
    plan = plan_of(T.q_text_bm25_multi(spark, SF_SMOKE))
    # r13: corpus pass behind the one-tokenize checkpoint (see
    # test_bm25_single_scan_and_truncation + the bm25_base_frame probe)
    assert n_ops(plan, "Scan parquet") == 0, plan[:2000]
    assert "WindowGroupLimit" in plan
    assert n_ops(plan, "CartesianProduct") == 0


def _data_side_window_specs(plan: str) -> list[str]:
    """All windowspecdefinition argument strings in a formatted plan."""
    return [m.group(1)
            for m in re.finditer(r"windowspecdefinition\((.*?)\)", plan)]


def test_peer_rank_window_is_banded_not_per_type(spark):
    """VERDICT r5 item 2: route_type has cardinality ~7, so the peer rank
    must NOT be a plain PARTITION BY route_type window over the scored
    routes (a 7-task global sort at scale).  The data-side row_number
    must partition by (route_type, __band); the only windows partitioned
    by route_type alone are the running-offset/total windows over the
    bounded band-count table (frame-only specs, no order column over
    data rows)."""
    from safeascent_spark.operators import analytics as A
    plan = plan_of(A.q_risk_peer_rank(spark, SF_SMOKE))
    specs = _data_side_window_specs(plan)
    assert any(re.match(r"route_type#\d+, __band#\d+L, risk_score", s)
               for s in specs), specs
    # the old scale-killer shape: rank over route_type alone
    assert not any(re.match(r"route_type#\d+, risk_score", s)
                   for s in specs), specs


def test_approx_stats_rank_legs_are_banded(spark):
    """VERDICT r5 item 4: the exact rank-window certification legs must
    ride the banded device — no one-task-per-event_type sort."""
    from safeascent_spark.operators import analytics as A
    plan = plan_of(A.q_events_approx_stats(spark, SF_SMOKE))
    specs = _data_side_window_specs(plan)
    assert any(re.match(r"event_type#\d+, __band#\d+L, vi#", s)
               for s in specs), specs
    assert not any(re.match(r"event_type#\d+, vi#", s) for s in specs), specs


def test_perplexity_tercile_is_banded_not_per_source(spark):
    """source has cardinality ~20 — the tercile must come from the banded
    rank + integer ntile arithmetic, not an ntile window per source."""
    from safeascent_spark.operators import text as T
    plan = plan_of(T.q_text_perplexity_filter(spark, SF_SMOKE))
    specs = _data_side_window_specs(plan)
    assert any(re.match(r"source#\d+, __band#\d+L, bits_per_token_micro", s)
               for s in specs), specs
    assert "ntile" not in plan
    assert not any(re.match(r"source#\d+, bits", s) for s in specs), specs


def test_ship_latency_and_funnel_ttc_percentiles_stay_banded(spark):
    """VERDICT r7 item 7: the two banded-percentile consumers must keep
    their order statistics in keyed windows — the month (~84-value) and
    step-pair (2-value) partitions would otherwise funnel the corpus
    through a handful of sort tasks.  The data-side rank window must
    carry a __band key; no cartesian/nested-loop joins; no constant-key
    (SinglePartition) exchange anywhere; aggregation map-side partial.
    Snapshots: docs/plan_orders_ship_latency.txt /
    docs/plan_events_funnel_ttc.txt."""
    from safeascent_spark.operators import analytics as A
    from safeascent_spark.operators import olap as O
    for df in (O.q_orders_ship_latency(spark, SF_SMOKE),
               A.q_events_funnel_ttc(spark, SF_SMOKE)):
        plan = plan_of(df)
        assert n_ops(plan, "CartesianProduct") == 0
        assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
        assert "SinglePartition" not in plan
        assert "partial_count" in plan or "partial_sum" in plan
        specs = _data_side_window_specs(plan)
        assert any("__band#" in s for s in specs), specs


def test_markov_iterations_ride_the_cached_pair_matrix(spark):
    """VERDICT r7 item 7: events_markov_stationary scans the corpus
    EXACTLY once — the |types|^2 pair matrix is cached, so all 10
    iteration matvecs and the observed-share leg are InMemoryTableScans;
    the only SinglePartition exchange is the bounded 1-row grand total.
    Snapshot: docs/plan_events_markov_stationary.txt."""
    from safeascent_spark.operators import analytics as A
    plan = plan_of(A.q_events_markov_stationary(spark, SF_SMOKE))
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, scan_ids
    assert len(set(re.findall(r"\((\d+)\) InMemoryTableScan", plan))) >= 10
    assert plan.count("Arguments: SinglePartition") <= 1
    assert n_ops(plan, "CartesianProduct") == 0


def test_r9_window_debut_plans_stay_distributed(spark):
    """VERDICT r8 item 6: the four r9-window debutants that lacked a
    plan snapshot.  Pins per docs/plan_<name>.txt:

    * events_burst_velocity — both range-frame count windows keyed by
      user_id (never unpartitioned), threshold side broadcast.
    * events_stickiness / supplier_hhi — pure keyed partial/final
      hash-aggregate chains with broadcast dims: no SinglePartition
      exchange, no sort-aggregate funnel, no window at all.
    * dq_enum_drift — value-grain dedup is a KEYED hash aggregate;
      the only SinglePartition exchanges carry 4-column per-partition
      partials (one per profiled column), never raw rows.
    """
    from safeascent_spark.operators import analytics as A
    from safeascent_spark.operators import monitor as MON
    from safeascent_spark.operators import olap as O

    plan = plan_of(A.q_events_burst_velocity(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "SinglePartition" not in plan
    specs = re.findall(r"windowspecdefinition\((\w+#\d+L?),", plan)
    assert specs and all(s.startswith("user_id#") for s in specs), specs
    assert n_ops(plan, "BroadcastHashJoin") >= 1

    for df in (A.q_events_stickiness(spark, SF_SMOKE),
               O.q_supplier_hhi(spark, SF_SMOKE)):
        plan = plan_of(df)
        assert n_ops(plan, "CartesianProduct") == 0
        assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
        assert "SinglePartition" not in plan
        assert "windowspecdefinition" not in plan

    plan = plan_of(MON.q_dq_enum_drift(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert plan.count("Arguments: SinglePartition") <= 3
    # every SinglePartition exchange consumes a 4-column partial
    for m in re.finditer(r"\(\d+\) Exchange\nInput \[(\d+)\]:[^\n]*\n"
                         r"Arguments: SinglePartition", plan):
        assert int(m.group(1)) == 4, plan


def test_wave33_plans_hold_their_scale_claims(spark):
    """Round-10 wave-33 plan pins (each mirrors the operator's
    docstring scale claim):

    * dq_column_correlation — ONE global aggregate: the only
      SinglePartition exchange carries the partial moment buffer (a
      fixed-width scalar row), and there is no join of any kind.
    * tpch_q11_value_parts — all dims broadcast, no SMJ; the global
      scalar re-aggregate is allowed its bounded broadcast NLJ (1-row
      side), and the top-100 is a TakeOrdered, not a global sort.
    * tpch_q20_qty_surplus — the final supplier semi-join is a
      BroadcastHashJoin LeftSemi (the surplus key set is bounded by
      the supplier dim); no SortMergeJoin anywhere.
    * graph_degree_histogram — keyed hash aggregates only: no window,
      no join, no cartesian.
    * dq_seasonal_mad_anomaly — every window keys on event_type (the
      bounded daily table), never unpartitioned.
    """
    from safeascent_spark.operators import graph as G
    from safeascent_spark.operators import monitor as MON
    from safeascent_spark.operators import olap as O

    plan = plan_of(MON.q_dq_column_correlation(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    for op in ("BroadcastHashJoin", "SortMergeJoin",
               "BroadcastNestedLoopJoin"):
        assert n_ops(plan, op) == 0, op
    assert "windowspecdefinition" not in plan

    plan = plan_of(O.q_tpch_q11_value_parts(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "BroadcastHashJoin") >= 3
    assert n_ops(plan, "TakeOrderedAndProject") == 1

    plan = plan_of(O.q_tpch_q20_qty_surplus(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan

    plan = plan_of(G.q_graph_degree_histogram(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert "windowspecdefinition" not in plan
    for op in ("BroadcastHashJoin", "SortMergeJoin",
               "BroadcastNestedLoopJoin"):
        assert n_ops(plan, op) == 0, op

    plan = plan_of(MON.q_dq_seasonal_mad_anomaly(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    specs = re.findall(r"windowspecdefinition\((\w+#\d+)", plan)
    assert specs and all(s.startswith("event_type#") for s in specs), specs


# --- Plan probes: pre-checkpoint pipelines (round 12, VERDICT r11 item 3) ----
#
# A query that returns a localCheckpoint'ed frame hides its real pipeline
# from the snapshot gate: docs/plan_<name>.txt shows a ~23-line scan of the
# materialized result, so the invariants above never see the
# write/upsert/read or corpus-aggregate plans that actually execute.  The
# isotonic CartesianProduct near-miss (checkpointed frames carry no size
# stats -> bounded non-equi joins go cartesian unless hinted) proved this
# blind spot bites.  safeascent_spark.planprobes exposes each such internal
# pipeline; these tests run the no-cartesian / bounded-nested-loop / no-SMJ
# invariants over the LIVE probe plans and require a committed
# docs/probe_<name>.txt snapshot for review.

def test_every_plan_probe_has_a_snapshot():
    from pathlib import Path

    from safeascent_spark import planprobes

    docs = Path(__file__).resolve().parent.parent / "docs"
    missing = [n for n in planprobes.all_probes()
               if not (docs / f"probe_{n}.txt").exists()]
    assert missing == [], missing
    offenders = [p.name for p in docs.glob("probe_*.txt")
                 if "CartesianProduct" in p.read_text()]
    assert offenders == [], offenders
    # no orphan snapshots pretending coverage that no longer exists
    known = {f"probe_{n}.txt" for n in planprobes.all_probes()}
    orphans = [p.name for p in docs.glob("probe_*.txt")
               if p.name not in known]
    assert orphans == [], orphans


def tree_ops_outside_cache(plan: str, op: str) -> int:
    """Count operator instances in the physical-plan TREE section,
    excluding the inlined child plans of InMemoryRelation nodes.

    A session-memoized frame (ml training frame, wsim dim, ...) that has
    already MATERIALIZED in this session prints its executed child plan
    inline under its InMemoryRelation node, so a probe built late in a
    shared-session pytest run would otherwise count operators belonging
    to the cached subtree — whose shape is pinned by its own plan tests —
    rather than to the probe's pre-checkpoint pipeline (the full-suite
    ordering failure this helper fixes: test_advice_r12 materializes the
    training frame, then iso_bin_frame "gains" the scoring dim's two
    allowlisted BroadcastNestedLoopJoins)."""
    tree = plan.split("\n\n", 1)[0]

    def depth(line: str) -> int:
        m = re.search(r"[A-Za-z=*]", line)
        return m.start() if m else len(line)

    count, skip_deeper_than = 0, None
    for line in tree.splitlines():
        d = depth(line)
        if skip_deeper_than is not None:
            if d > skip_deeper_than:
                continue
            skip_deeper_than = None
        if "InMemoryRelation" in line:
            skip_deeper_than = depth(line)
            continue
        if re.search(rf"\b{op}\b", line):
            count += 1
    return count


def test_plan_probe_live_invariants(spark):
    """Every pre-checkpoint pipeline, built live: zero CartesianProduct,
    zero SortMergeJoin (all joins are broadcast or semi at these
    cardinalities), and at most ONE BroadcastNestedLoopJoin (the bounded
    7 x |accidents| dim build inside the scoring subtree / the bounded
    corpus x probes broadcast cross join in the MRL probe).  Counted on
    the probe's own pipeline only (tree_ops_outside_cache): operators
    inside already-materialized session-cached subtrees are audited by
    those frames' own plan tests, not double-counted here."""
    from safeascent_spark import planprobes

    for name, probe in planprobes.all_probes().items():
        with probe(spark, SF_SMOKE) as df:
            plan = plan_of(df)
        assert tree_ops_outside_cache(plan, "CartesianProduct") == 0, name
        assert tree_ops_outside_cache(plan, "SortMergeJoin") == 0, name
        assert tree_ops_outside_cache(plan, "BroadcastNestedLoopJoin") <= 1, name


def test_s8_probe_partition_prunes_and_broadcasts_the_mget_batch(spark):
    """The serving read must scan ONE prediction_date's manifest files
    (not both dates' files, post-filtered) and semi-join the bounded MGET
    id batch via broadcast hash join."""
    from safeascent_spark import domain, planprobes

    with planprobes.all_probes()["s8_serving_pipeline"](
            spark, SF_SMOKE) as df:
        plan = plan_of(df)
        scanned, listed = _manifest_files(df, domain.PRED_DATE)
    assert scanned == listed, (scanned, listed)
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan


def test_s9_probe_has_no_window_or_join_blowup(spark):
    """Upserted rows shadow the base through literal key filters: the
    upsert/purge/read pipeline needs no latest-wins Window, and no
    SortMergeJoin or CartesianProduct."""
    from safeascent_spark import planprobes

    with planprobes.all_probes()["s9_survivor_pipeline"](
            spark, SF_SMOKE) as df:
        plan = plan_of(df)
    for op in ("Window", "SortMergeJoin", "CartesianProduct"):
        assert n_ops(plan, op) == 0, (op, plan[:2000])


def test_ivf_incremental_plan_shape(spark):
    """Wave-35 pin: the incremental-IVF audit must assemble from the
    checkpointed index state — one bounded corpus x K broadcast
    nested-loop pass for the reassignment, broadcast hash joins over
    the 8-row cell frames, zero SortMergeJoin / CartesianProduct, and
    the WindowGroupLimit argmin truncation below the vec_id window."""
    from safeascent_spark.operators import similarity as SIM

    plan = plan_of(SIM.q_ann_ivf_incremental(spark, SF_SMOKE))
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "SortMergeJoin") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") <= 1
    assert "WindowGroupLimit" in plan
    specs = re.findall(r"windowspecdefinition\((\w+#\d+)", plan)
    assert specs and all(s.startswith("vec_id#") for s in specs), specs


def test_compaction_probe_has_no_window_or_join_blowup(spark):
    """The pre-compaction served read with two unfolded MERGE layers is
    one file group per layer under literal key filters: no Window,
    SortMergeJoin or CartesianProduct."""
    from safeascent_spark import planprobes

    with planprobes.all_probes()["compaction_before_frame"](
            spark, SF_SMOKE) as df:
        plan = plan_of(df)
    for op in ("Window", "SortMergeJoin", "CartesianProduct"):
        assert n_ops(plan, op) == 0, (op, plan[:2000])
    assert n_ops(plan, "Scan parquet") == 3, plan[:2000]
