"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship route-risk scoring query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 for the driver's DuckDB hash-compare at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from safeascent_spark.operators import analytics as A
from safeascent_spark.operators import assembly as ASM
from safeascent_spark.operators import association as ASSOC
from safeascent_spark.operators import batch as B
from safeascent_spark.operators import curation as CU
from safeascent_spark.operators import dedup as D
from safeascent_spark.operators import forecast as FC
from safeascent_spark.operators import graph as G
from safeascent_spark.operators import kernel_queries as KQ
from safeascent_spark.operators import layout as LAY
from safeascent_spark.operators import monitor as MON
from safeascent_spark.operators import multimodal as MM
from safeascent_spark.operators import olap as OL
from safeascent_spark.operators import rangejoin as RJ
from safeascent_spark.operators import relational as R
from safeascent_spark.operators import scoring
from safeascent_spark.operators import similarity as SIM
from safeascent_spark.operators import text as TX
from safeascent_spark.operators import weather as W
from safeascent_spark import ml as ML
from safeascent_spark import sinks as SNK
from safeascent_spark import skew as SK
from safeascent_spark.streaming import correlate as CORR
from safeascent_spark.operators import evalrank as EV
from safeascent_spark.streaming import sessions as SESS

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: per-route risk scores (J3 cross join + K1-K15 + A1)."""
    return scoring.risk_scores_df(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name -> builder for every implemented query/operator, in driver
    order."""
    # The driver hash-checks the first 50 entries.  A query whose code
    # changed outside that window moves to position 50.  New queries go
    # at the end.
    return {
        # S8 end-to-end: write two date partitions, partition-pruned
        # serving read + broadcast MGET semi-join (VERDICT r10 item 3:
        # the sink layer made driver-expressible)
        "s8_score_roundtrip": SNK.q_s8_score_roundtrip,
        # S9/S10 + J6 end-to-end: 3-date write, row-level merge-on-read
        # upsert, retention purge, per-surviving-date serving aggregate
        "s9_retention_survivors": SNK.q_s9_retention_survivors,
        # variable-length longest duplicated span (true EXACTSUBSTR
        # maximality via bucketed suffix-neighbor LCP; VERDICT r10 #4)
        "dedup_longest_span": D.q_dedup_longest_span,
        # isotonic (PAVA) recalibration via the distributed minimax
        # identity over the bounded bin frame
        "ml_isotonic_calibration": EV.q_ml_isotonic_calibration,
        # TPC-H Q9 (profit by nation x year) — completes all 22 shapes
        "tpch_q9_product_profit": OL.q_tpch_q9_product_profit,
        # watermark sizing audit: per-type lateness vs a delay grid
        # (§2.9 streaming semantics made driver-expressible)
        "events_late_arrival_audit": A.q_events_late_arrival_audit,
        # IVM proof for the nightly pipeline: merged per-batch partials
        # hash-equal the single-pass recompute (pico-exact merge)
        "batch_scores_incremental": B.q_batch_scores_incremental,
        # Matryoshka truncation recall: prefix-dim top-K vs full-dim
        # ground truth (int8-exact ranking)
        "embedding_matryoshka_recall": SIM.q_embedding_matryoshka_recall,
        # duplicate-provenance flow: near-dup pair mass by source pair
        "dedup_source_flow": D.q_dedup_source_flow,
        # F8 geofencing: integer-exact ray-casting polygon containment —
        # one codegen'd projection, no joins, division-free
        "f8_polygon_filter": R.q_polygon_filter,
        # batch multi-query BM25: one corpus pass for ALL queries (query
        # dim broadcast; per-query WindowGroupLimit) — the service shape
        "text_bm25_multi": TX.q_text_bm25_multi,
        # A/B readout: pooled two-proportion z-test per event type; the
        # arbitrary split means NO type should reach significance
        "events_ab_test": A.q_events_ab_test,
        # dedup-quality eval: LSH candidates vs exact Jaccard truth —
        # confusion counts + exact ppm recall/precision on-engine
        "dedup_eval": D.q_dedup_eval,
        # quality-aware mixing: DoReMi domain budgets spent best-LM-band
        # first; greedy allocation on the 9-row aggregate, never a
        # per-domain corpus sort
        "sample_mixture_quality": TX.q_sample_mixture_quality,
        # quality-argmax canonical per duplicate cluster
        "dedup_canonical": D.q_dedup_canonical,
        # IVF + PQ composed (FAISS IVFADC): coarse cell probe, ADC
        # lookup-table scoring (16 bytes/candidate, no O(DIM) math),
        # exact re-rank; certified-recall driver contract
        "ann_ivf_pq_topk": ML.q_ann_ivf_pq_certified,
        # TPC-H Q5-shape star join: fact exchange carries one pushed-down
        # year; tiny dims broadcast; integer-micro revenue
        "star_revenue": A.q_star_revenue,
        # SCD2 dimension build (lead-window intervals) + point-in-time
        # fact enrichment on user equi-key + interval predicate
        "events_scd2": A.q_events_scd2,
        # blocked record linkage: noisy listings -> route master via
        # block equi-join + in-block Levenshtein + argmin assignment
        "entity_resolution": R.q_entity_resolution,
        # Pareto skyline via banded distributed prefix-min (declarative
        # NOT EXISTS oracle) — no global sort, no pair join
        "orders_skyline": A.q_orders_skyline,
        # multi-touch linear attribution: integer-exact equal split with
        # remainder-to-earliest; per-channel rollup
        "events_attribution": A.q_events_attribution,
        # triangle enumeration on the thresholded co-purchase graph via
        # the ordered two-path + closure equi-joins
        "graph_triangles": ASSOC.q_graph_triangles,
        # growth accounting: DAU/new/returning/churned per calendar day,
        # one corpus-sized distinct then bounded frames
        "events_growth": A.q_events_growth,
        # dbt/Deequ-style constraint suite as one query: PK, FKs, domain
        # ranges, schema invariants, freshness
        "dq_assertions": R.q_dq_assertions,
        # trailing-7d distinct users: exact 7-way-spread count_distinct
        # + mergeable per-day HLL union certified within 5%
        "events_rolling_distinct": A.q_events_rolling_distinct,
        # item-item CF: top-k cosine neighbors over the pair-support
        # table, floor-ppm of bitwise-identical doubles
        "cf_item_neighbors": ASSOC.q_cf_item_neighbors,
        # DBSCAN-lite hotspots: dense 1-degree cells, 8-neighbor
        # adjacency equi-join, star-contraction CC cluster labels
        "geo_hotspots": ASSOC.q_geo_hotspots,
        # Kaplan-Meier time-to-churn: exact life table + sorted-array
        # float fold (identical multiply order in both engines)
        "events_survival": A.q_events_survival,
        # uncertainty sampling: bottom-M docs by exact NB margin — the
        # labeling-budget selector of a curation loop
        "sample_active_learning": TX.q_sample_active_learning,
        # hierarchical subtree rollup: dimension-only transitive closure
        # + flatten-then-aggregate (facts touched once)
        "location_subtree_rollup": R.q_location_subtree_rollup,
        # LTV cohort triangle: integer-cents spend cumulated per
        # acquisition cohort, per-cohort windows only
        "orders_ltv_cohorts": A.q_orders_ltv_cohorts,
        # brand revenue share: lineitem x part dim join + ppm
        # percent-of-total via 1-row broadcast (no global window)
        "part_brand_share": ASSOC.q_part_brand_share,
        # sequential pattern mining: top event-type trigrams via two
        # lead() steps, TakeOrdered over the bounded path frame
        "events_paths": A.q_events_paths,
        # MoM/YoY revenue growth in ppm on the bounded monthly frame
        "orders_growth": A.q_orders_growth,
        # native unpivot/melt: the wide month matrix back to long form
        "accidents_month_unpivot": A.q_accidents_month_unpivot,
        # time-series densification: zero-filled calendar grid + LOCF
        "events_gapfill": A.q_events_gapfill,
        # LOCF time-weighted average per (user, type) series — the
        # hypertable time_weight analog, integer-exact ms weighting
        "events_twap": A.q_events_twap,
        # Gopher quality-rule battery: exact integer word stats -> four
        # boolean gates + conjunctive keep (Rae et al. 2021 A1.1)
        "text_gopher_rules": CU.q_text_gopher_rules,
        # PII redaction transform (the replace sibling of text_pii_scan):
        # JVM regexp only; cross-engine witness is the redacted md5
        "text_pii_redact": CU.q_text_pii_redact,
        # DSIR importance weights (Xie et al. 2023): hashed-unigram
        # micro-nat log-ratio model, bucket count fixed at 4096
        # regardless of corpus size; exact BIGINT doc sums
        "sample_dsir": CU.q_sample_dsir,
        # distinct-n diversity per source (templated-corpus detector)
        "text_distinct_ngrams": CU.q_text_distinct_ngrams,
        # tokenizer fertility by language over the trained BPE states
        "bpe_fertility": CU.q_bpe_fertility,
        # TPC-H Q1: one pushed-down scan -> map-side-combined wide
        # aggregate, exact integer cents / 1e-4 / 1e-6 dollar units
        "tpch_q1_pricing": OL.q_tpch_q1_pricing,
        # TPC-H Q3: segment-pruned broadcast dim, both date predicates
        # pushed, distributed TakeOrdered top-10
        "tpch_q3_priority": OL.q_tpch_q3_priority,
        # top-K |covariance| feature pairs over int8-quantized
        # embeddings: in-row pair products (no self-join), dimension-
        # bounded work, exact milli-unit floor-division covariance
        "embedding_covariance": OL.q_embedding_covariance,
        # the EXISTS/semi-join shape: late-shipping orders by priority,
        # each order counted at most once (LEFT SEMI, no dup shuffle)
        "tpch_q4_semijoin": OL.q_tpch_q4_semijoin,
        # order-count distribution incl. the zero bucket: aggregate
        # orders FIRST, then left-outer onto customers (Q13 shape)
        "tpch_q13_custdist": OL.q_tpch_q13_custdist,
        # interpolated Kneser-Ney bigram LM: absolute discount 3/4 +
        # continuation backoff, single exact rational -> ppm floor div
        "text_kneser_ney": CU.q_text_kneser_ney,
        # Holt double-exponential smoothing with dyadic gains: exact
        # packed-integer (level, trend) fold over a bounded ROWS frame
        "events_holt": FC.q_events_holt,
        # RFM segmentation: all three quintiles via the banded
        # distributed rank — no global sort on any metric
        "orders_rfm": FC.q_orders_rfm,
        "risk_scores_capped": lambda s, sf: scoring.risk_scores_capped_df(s, sf),
        "top_contributors_capped": lambda s, sf:
            scoring.top_contributors_capped_df(s, sf),
        "batch_scores_capped": lambda s, sf: B.batch_scores_capped_df(s, sf),
        # integer fixed-point PageRank over the route/location/type-hub
        # DAG — bounded-shuffle iterative graph centrality
        "graph_pagerank": G.q_graph_pagerank,
        # MMR diversification of retrieval results: lambda=2/3 rational
        # objective over exact int8 inner products, bounded greedy rounds
        "search_mmr": FC.q_search_mmr,
        # Q21 shape: EXISTS + NOT EXISTS decorrelated to one per-order
        # aggregate; the oracle keeps the literal correlated form
        "tpch_q21_lone_late_supplier": OL.q_tpch_q21_lone_late_supplier,
        # Okapi BM25 ranked retrieval: posting list cut to the query's
        # terms at the explode, TakeOrderedAndProject top-k
        "text_bm25_topk": TX.q_text_bm25_topk,
        # incremental IVF maintenance: fresh batch -> stat-merge ->
        # centroid shift + base-corpus reassignment fraction (the
        # nightly-embedding-refresh analog of batch_scores_incremental)
        "ann_ivf_incremental": SIM.q_ann_ivf_incremental,
        # S10 compaction: fold merge-on-read deltas into the base
        # partition; before/after served aggregates must hash-agree
        "sink_compaction_roundtrip": SNK.q_sink_compaction_roundtrip,
        # PSI feature-drift alarm per event type (early vs late half),
        # cell-bounded floats floored once, exact BIGINT sums
        "events_psi_drift": MON.q_events_psi_drift,
        # join/agg key-skew profile: cardinality, heavy key + share,
        # max/mean skew ratio per profiled column (the salting input)
        "dq_skew_profile": MON.q_dq_skew_profile,
        # NDCG@10 of the int8 retrieval stack vs label ground truth
        "search_ndcg": CU.q_search_ndcg,
        # per-source leading-boilerplate detection + strip verdicts
        "text_strip_boilerplate": CU.q_text_strip_boilerplate,
        # revenue Pareto curve at decile grain: groupless banded rank,
        # cumulative window only on the bounded 10-row frame
        "orders_pareto": OL.q_orders_pareto,
        # TPC-H Q10: returned-item revenue star, top-20 TakeOrdered
        "tpch_q10_returns": OL.q_tpch_q10_returns,
        # the NOT EXISTS / LEFT ANTI shape: never-returned parts by brand
        "parts_never_returned": OL.q_parts_never_returned,
        # the correlated-scalar-subquery shape (TPC-H Q17), decorrelated
        # and made float-free: 5*qty*n < sum_qty on DECIMAL(38,0)
        "tpch_q17_smallqty": OL.q_tpch_q17_smallqty,
        # GROUPING SETS + grouping_id: arbitrary subtotal lattice cells
        "risk_grouping_sets": OL.q_risk_grouping_sets,
        # tokenizer losslessness: decode(encode(word)) == word for the
        # whole vocabulary, pinned true by the oracle
        "bpe_roundtrip": CU.q_bpe_roundtrip,
        # Cavnar-Trenkle char-trigram language profiles, banded top-K
        "text_char_trigram_profile": TX.q_text_char_trigram_profile,
        # Lee et al. 2022 EXACTSUBSTR output form: merged duplicated
        # token ranges per document (gaps-and-islands per doc)
        "dedup_duplicate_spans": D.q_dedup_duplicate_spans,
        # Holt backtest: one-step-ahead holdout error per user, exact
        "events_forecast_eval": FC.q_events_forecast_eval,
        # RHO-style learnability-gap sampling: unigram-vs-bigram micro-
        # bit delta, above-corpus-mean selection (Mindermann et al. 2022)
        "sample_learnability": CU.q_sample_learnability,
        # Q5: the multi-join with the c_nationkey = s_nationkey cycle edge
        "tpch_q5_local_supplier": OL.q_tpch_q5_local_supplier,
        # Q6: the pure pushdown scan-aggregate (no joins, 1 row out)
        "tpch_q6_forecast": OL.q_tpch_q6_forecast,
        # Q7: nation joins the fact twice (supplier + customer roles)
        "tpch_q7_volume": OL.q_tpch_q7_volume,
        # Q8: conditional share over one joined frame, exact ppm
        "tpch_q8_market_share": OL.q_tpch_q8_market_share,
        # Q14: promo-revenue share, DECIMAL(38,0)-widened ppm
        "tpch_q14_promo": OL.q_tpch_q14_promo,
        # Q15: argmax-over-aggregate via 1-row max broadcast (ties kept)
        "tpch_q15_top_supplier": OL.q_tpch_q15_top_supplier,
        # Q18: HAVING keyset fed back as a broadcast semi-join
        "tpch_q18_large_orders": OL.q_tpch_q18_large_orders,
        # Q12 shape: parallel CASE-conditional counts in one fact pass
        "tpch_q12_priority_class": OL.q_tpch_q12_priority_class,
        # Q19 shape: OR-of-conjunctive-bands evaluated in ONE join
        "tpch_q19_disjunctive": OL.q_tpch_q19_disjunctive,
        # Q22 shape: 1-row scalar-avg broadcast + LEFT ANTI on the fact
        "tpch_q22_lost_customers": OL.q_tpch_q22_lost_customers,
        # one-pass 5-column profiler (multi-distinct via a single Expand)
        "dq_column_profile": MON.q_dq_column_profile,
        # k-anonymity small-group suppression at (lang, source) grain
        "dq_k_anonymity": MON.q_dq_k_anonymity,
        # Cleanlab-style kNN label-noise audit, int8-exact cosine
        "knn_label_noise": SIM.q_knn_label_noise,
        # recall@k vs Hamming probe radius over integer SRP cells —
        # the index-tuning curve, fully engine-neutral (hash-exact)
        "ann_recall_curve": SIM.q_ann_recall_curve,
        # integer Fisher-style per-dimension class separability
        "embedding_class_separation": SIM.q_embedding_class_separation,
        # semi-hard negative mining (different-label top-M cosine)
        "sample_hard_negatives": SIM.q_sample_hard_negatives,
        # chance-corrected kNN-vs-gold agreement, exact signed ppm
        "eval_cohens_kappa": SIM.q_eval_cohens_kappa,
        # purged/embargoed temporal split + user-overlap certificate
        "sample_time_embargo": CU.q_sample_time_embargo,
        # Morton-code clustering stats (the Z-ORDER BY decision readout)
        "layout_zorder": LAY.q_layout_zorder,
        # k-center farthest-point coreset, integer-exact trajectory
        "sample_coreset_fps": SIM.q_sample_coreset_fps,
        # exact P50/P90/P99 per type via banded rank (no global sort)
        "events_latency_percentiles": MON.q_events_latency_percentiles,
        # median-absolute-deviation outliers (50% breakdown point)
        "events_mad_outliers": MON.q_events_mad_outliers,
        # order-independent polynomial table checksum per month bucket
        "dq_table_fingerprint": MON.q_dq_table_fingerprint,
        # actual-vs-uniformity join cardinality, computed join-free
        # (per-key counts + sum(cl*cr) — a |keys| join, not |rows|)
        "dq_join_cardinality": MON.q_dq_join_cardinality,
        # equal-mass bins with explicit [lo, hi] edges via banded rank
        "features_quantile_bins": MON.q_features_quantile_bins,
        # CUSUM change-point per type, banded cumulative prefix sums
        "events_changepoint": MON.q_events_changepoint,
        # Zipf rank-frequency slope, micro-nat integer regression
        "text_zipf_fit": CU.q_text_zipf_fit,
        # STL-lite trend/seasonal/residual on the bounded daily table
        "events_seasonality": FC.q_events_seasonality,
        # ABC cumulative-share classes via banded descending prefix sums
        "orders_abc_class": OL.q_orders_abc_class,
        # orphan-FK audit: LEFT ANTI vs pre-deduped parent keysets
        "dq_referential_integrity": MON.q_dq_referential_integrity,
        # per-stream ingest freshness lag vs the freshest stream
        "dq_freshness_lag": MON.q_dq_freshness_lag,
        # primary-key uniqueness audit over seven declared keys
        "dq_unique_key_check": MON.q_dq_unique_key_check,
        # open-work aging buckets vs the dataset watermark
        "orders_backlog_aging": OL.q_orders_backlog_aging,
        # tie-corrected Mann-Whitney AUC, one-vs-rest per event type,
        # from banded prefix sums over the bounded distinct-score grid
        "eval_roc_auc": EV.q_eval_roc_auc,
        # Kolmogorov-Smirnov class separation on the same grid
        "eval_ks_statistic": EV.q_eval_ks_statistic,
        # decile gains/lift table via banded global rank (no single sort)
        "ml_gains_deciles": EV.q_ml_gains_deciles,
        # per-label int8 reconstruction-error profile (bias/MAE/max/MSE),
        # error rounded once per cell into exact micro-units
        "embedding_quantization_error": SIM.q_embedding_quantization_error,
        # per-label squared-norm summary + degenerate low-norm gate
        "embedding_norm_profile": SIM.q_embedding_norm_profile,
        # Neyman-allocated stratified sampling plan, largest-remainder
        # integer allocation with deterministic ties
        "sample_stratified_neyman": CU.q_sample_stratified_neyman,
        # type-token + hapax ratios per source (templated-feed detector)
        "text_ttr_hapax": TX.q_text_ttr_hapax,
        # exact k-nearest accidents per route under the production 300 km
        # cap, candidates from the 3x3 grid neighborhood
        "geo_knn_grid": R.q_geo_knn_grid,
        # Adamic-Adar common-neighbor link prediction with hot-node cap
        "graph_common_neighbors": G.q_graph_common_neighbors,
        # ingest sequence-gap audit over fixed-width id blocks
        "dq_sequence_gaps": MON.q_dq_sequence_gaps,
        # triplet violation rate via division-free integer cosine compare
        "embedding_triplet_violations": SIM.q_embedding_triplet_violations,
        # stationary distribution of the event-type Markov chain,
        # integer power iteration on the |types|^2 ppm matrix
        "events_markov_stationary": A.q_events_markov_stationary,
        # duplicate-payment detector over (customer, cents, date)
        "dq_duplicate_payments": MON.q_dq_duplicate_payments,
        # daily bounce rate over the engine's 1-hour session semantics
        "events_bounce_rate": A.q_events_bounce_rate,
        # inter-source n-gram contamination matrix (|grams| x |sources|^2)
        "dedup_cross_source_overlap": D.q_dedup_cross_source_overlap,
        # smoothed target encoding (Micci-Barreca), one exact rational
        "features_target_encoding": MON.q_features_target_encoding,
        # fact-to-detail reconciliation: order totals vs line sums (e6)
        "dq_order_reconciliation": MON.q_dq_order_reconciliation,
        # exact p50/p90/p99 step-conversion delays, banded order stats
        "events_funnel_ttc": A.q_events_funnel_ttc,
        # daily volume vs trailing-7-day median, pairwise-rank median
        "dq_volume_anomaly": MON.q_dq_volume_anomaly,
        # exact DAU/MAU-30 via bounded x30 covered-day expansion
        "events_stickiness": A.q_events_stickiness,
        # Herfindahl supplier-concentration index per part brand
        "supplier_hhi": OL.q_supplier_hhi,
        # categorical-domain conformance audit per declared whitelist
        "dq_enum_drift": MON.q_dq_enum_drift,
        # densest 60-second burst per user (range-frame window)
        "events_burst_velocity": A.q_events_burst_velocity,
        # Shannon entropy of the daily event-type mix, micro-nat exact
        "events_entropy_daily": A.q_events_entropy_daily,
        # exact p50/p90 order-to-ship latency per month, banded ranks
        "orders_ship_latency": OL.q_orders_ship_latency,
        # Tukey 1.5-IQR fences + tail counts per event type
        "dq_tukey_fences": MON.q_dq_tukey_fences,
        # promo-depth revenue/quantity curve in exact ppm shares
        "lineitem_discount_curve": OL.q_lineitem_discount_curve,
        "j1_routes_with_coords": R.q_routes_with_coords,
        # the iterative trio in self-certifying oracle-bearing form
        # (VERDICT r3 item 3): deterministic ids/counts + booleans
        # asserting the recall / coverage floors, which the DuckDB oracle
        # pins to literal true.  Detailed per-neighbor forms remain
        # pytest-checked (test_ml.py recall floors).
        "ann_ivf_topk": ML.q_ann_ivf_certified,
        "ann_pq_topk": ML.q_ann_pq_certified,
        "embedding_kmeans_cells": ML.q_embedding_kmeans_certified,
        # A6 dedicated query: day-weighted mean/std per factor (reference
        # weather_service.py:99-110)
        "a6_weighted_stats": W.q_weighted_stats,
        "sample_domain_quota": TX.q_sample_domain_quota,
        "decontam_substring": D.q_decontam_substring,
        "text_unigram_lm": TX.q_text_unigram_lm,
        "dedup_incremental": D.q_dedup_incremental,
        "ann_filtered_topk": SIM.q_ann_filtered_topk,
        "dedup_exact": D.q_dedup_exact,
        "dedup_clusters": D.q_dedup_clusters,
        "k4_season_of_orders": KQ.q_season_of_orders,
        "k11_severity": KQ.q_severity,
        "k22_weather_summary": ASM.q_weather_summary,
        "dedup_minhash_signatures": D.q_minhash_signatures,
        "w_similarity": W.q_weather_similarity,
        "skew_salted_sum": SK.q_skew_salted_sum,
        "text_tfidf_topk": TX.q_text_tfidf,
        "j5_breadcrumb_recursive": R.q_location_breadcrumb,
        "dedup_simhash": D.q_simhash,
        "dedup_simhash_pairs": D.q_dedup_simhash_pairs,
        "ann_cosine_topk": lambda s, sf: SIM.cosine_topk_df(s, sf),
        "ann_lsh_topk": lambda s, sf: SIM.q_ann_lsh(s, sf),
        "ann_cosine_topk_int8": lambda s, sf: SIM.q_ann_cosine_int8(s, sf),
        "embedding_stats": SIM.q_embedding_stats,
        "text_token_counts": TX.q_token_counts,
        "text_lang_stats": TX.q_lang_stats,
        "text_lang_id": TX.q_lang_id,
        # top principal component by integer power iteration on the
        # bounded DIM x DIM int8 covariance (one corpus pass)
        "embedding_pca_power": OL.q_embedding_pca_power,
        # Benford first-digit conformance audit with exact chi-square
        "dq_benford": MON.q_dq_benford,
        "text_quality_score": TX.q_quality_score,
        "curation_funnel": D.q_curation_funnel,
        # soft dedup: keep duplicates, downweight by cluster size x quality
        # band (exact int64 ppm)
        "sample_softdedup": D.q_sample_softdedup,
        # Heaps-law vocabulary-novelty growth by ingest order
        "text_vocab_novelty": TX.q_text_vocab_novelty,
        # k-core peeling over the route/location/hub graph
        "graph_kcore": G.q_graph_kcore,
        # RAG/pretraining token chunker + corpus-wide chunk dedup count
        "text_chunking": TX.q_text_chunking,
        # mT5-style temperature (alpha=1/2) source mixing, exact
        # largest-remainder quota allocation
        "sample_temperature": CU.q_sample_temperature,
        # exact lag-1..7 Pearson autocorrelation of the daily series
        "events_autocorr": A.q_events_autocorr,
        # per-type Gini concentration of user activity (banded ranks)
        "events_user_gini": A.q_events_user_gini,
        "text_doc_fingerprint": TX.q_doc_fingerprint,
        "text_token_count_bpe": TX.q_token_count_bpe,
        "text_decontamination": D.q_text_decontamination,
        "text_pii_scan": TX.q_pii_scan,
        "dedup_filtered_docs": D.q_dedup_filtered_docs,
        "events_json_stats": A.q_events_json_stats,
        "events_cardinality_stats": A.q_events_cardinality_stats,
        "accidents_month_pivot": A.q_accidents_month_pivot,
        "risk_cube": A.q_risk_cube,
        "k8_extreme_breakdown": W.q_extreme_breakdown,
        "w_weather_window": W.q_weather_window,
        "w_freeze_thaw": W.q_freeze_thaw,
        "w_extreme_multiplier": W.q_extreme_multiplier,
        "k5_pearson_factors": W.q_pearson_factors,
        "f2_route_search": R.q_route_search,
        "f3_route_search_rock": R.q_route_search_rock,
        # filter composed INTO the IVF probe path (VERDICT r4 item 1):
        # label-aware cell probing via a per-(cell,label) occupancy dim,
        # certified-recall contract vs the oracle-green exact filtered form
        "ann_filtered_ivf_topk": ML.q_ann_filtered_ivf_certified,
        # data mixing: DoReMi-style per-domain rates from token
        # inventories + deterministic hash-mod sampling, all-int64 exact
        "sample_mixture": TX.q_sample_mixture,
        # SemDeDup-style semantic dedup: SRP-cell partition + in-cell
        # integer-exact cosine prune (Abbas et al. 2023)
        "dedup_semantic": SIM.q_dedup_semantic,
        # intra-corpus repeated n-gram (boilerplate) profiling, the
        # EXACTSUBSTR analog of Lee et al. 2022 at fixed window width
        "dedup_repeated_ngrams": D.q_dedup_repeated_ngrams,
        "j7_fuzzy_route_match": R.q_fuzzy_route_match,
        "a2_route_page": R.q_route_page,
        "a5_location_route_counts": R.q_location_route_counts,
        "a9_location_mode_type": R.q_location_mode_type,
        "a3_seasonal_patterns": A.q_seasonal_patterns,
        "a4_ascent_rates": A.q_ascent_rates,
        "a7_weather_monthly_stats": A.q_weather_monthly_stats,
        "a8_risk_trend": A.q_risk_trend,
        "w3_climbing_windows": A.q_climbing_windows,
        "k21_hourly_risk": A.q_hourly_risk,
        "risk_rollup": A.q_risk_rollup,
        "s4_location_routes_assembled": ASM.q_location_routes_assembled,
        "s3_weather_arrays_assembled": ASM.q_weather_arrays_assembled,
        "location_forecast_horizon": ASM.q_location_forecast,
        "j2_weather_range_join": RJ.q_weather_range_join,
        "predict_point": RJ.q_predict_point,
        "k2_spatial_weight": KQ.q_spatial_weight,
        # Q2 shape: correlated min-per-part over a 5-table dim join,
        # cost relation derived from lineitem (no partsupp in fixture)
        "tpch_q2_mincost": OL.q_tpch_q2_mincost,
        "events_hour_heatmap": A.q_events_hour_heatmap,
        "events_interarrival": A.q_events_interarrival,
        "events_peak_concurrency": A.q_events_peak_concurrency,
        "eval_pr_auc": EV.q_eval_pr_auc,
        "embedding_maha_diag": SIM.q_embedding_maha_diag,
        "dq_functional_dependency": MON.q_dq_functional_dependency,
        "text_oov_rate": TX.q_text_oov_rate,
        "graph_assortativity": G.q_graph_assortativity,
        "embedding_cell_balance": SIM.q_embedding_cell_balance,
        "events_new_vs_returning": A.q_events_new_vs_returning,
        "text_idf_drift": TX.q_text_idf_drift,
        "text_burstiness": TX.q_text_burstiness,
        "dq_error_budget": MON.q_dq_error_budget,
        # Q16 shape: distinct-pair relation + broadcast anti exclusion
        # + COUNT(DISTINCT) at bounded attribute grain
        "tpch_q16_supplier_cnt": OL.q_tpch_q16_supplier_cnt,
        "k3_temporal_weight": KQ.q_temporal_weight,
        "k10_route_type_weight": KQ.q_route_type_weight,
        "k13_elevation_weight": KQ.q_elevation_weight,
        "k14_grade_weight": KQ.q_grade_weight,
        "k16_route_type_inference": KQ.q_route_type_inference,
        "k16b_route_type_confidence": KQ.q_route_type_confidence,
        "k19_bearing_impact": KQ.q_bearing_impact,
        "dedup_embedding_cosine": SIM.q_dedup_embedding_cosine,
        "f1_accident_filter": R.q_accident_filter,
        "f4_predict_prefilter": R.q_predict_prefilter,
        "f7_bbox_radius_filter": R.q_bbox_radius_filter,
        "risk_scores": lambda spark, sf: scoring.risk_scores_df(spark, sf),
        "top_contributors": lambda spark, sf: scoring.top_contributors_df(spark, sf),
        "risk_factor_breakdown": lambda s, sf: scoring.factor_breakdown_df(s, sf),
        "cache_warming_top_routes": lambda s, sf: scoring.cache_warming_df(s, sf),
        "batch_scores": lambda s, sf: B.batch_scores_df(s, sf),
        "batch_scores_classed": lambda s, sf: B.batch_scores_classed_df(s, sf),
        "dedup_ngram_jaccard": D.q_dedup_jaccard,
        "dedup_minhash_lsh": D.q_dedup_minhash_lsh,
        "events_sessionization": SESS.q_events_sessionization,
        "text_chunks": TX.q_text_chunks,
        "sample_stratified": TX.q_sample_stratified,
        "text_pack_offsets": TX.q_text_pack_offsets,
        "text_repetition": TX.q_text_repetition,
        "multimodal_wav_meta": MM.q_multimodal_wav_meta,
        "k1_haversine": KQ.q_haversine,
        "j5_location_breadcrumb": R.q_location_breadcrumb,
        "dedup_clusters_largestar": D.q_dedup_clusters,
        # peer-relative risk: exact-ppm percent rank within route_type
        "risk_peer_rank": A.q_risk_peer_rank,
        # integer-safe via exact rank-window certification
        "events_approx_stats": A.q_events_approx_stats,
        # 2-itemset association rules: per-basket pair join + exact-ppm
        # lift from BIGINT counts
        "basket_pairs_lift": ASSOC.q_basket_pairs,
        # CCNet-style perplexity quality filter: per-source head/middle/
        # tail terciles of unigram bits/token, exact end-to-end
        "text_perplexity_filter": TX.q_text_perplexity_filter,
        # stream-stream interval join, batch form
        "events_correlated": CORR.q_events_correlated,
        # kNN label propagation: int8-exact cosine kNN + integer majority
        # vote
        "knn_classify": SIM.q_knn_classify,
        "multimodal_png_meta": MM.q_multimodal_png_meta,
        "multimodal_png_resize": MM.q_multimodal_png_resize,
        # audio frame-energy features from REAL decoded PCM (Arrow stage
        # emits frame-grain rows); exact-integer energies vs the oracle
        "multimodal_wav_energy": MM.q_multimodal_wav_energy,
        # VAD-style audio activity segments: gaps-and-islands over the
        # real decoded frame-energy grain
        "multimodal_wav_segments": MM.q_multimodal_wav_segments,
        # real video-container codec (SAV1: length-prefixed PNG frames):
        # chunk walk + every-Nth frame sampled and PNG-decoded in Arrow
        "multimodal_video_frames": MM.q_multimodal_video_frames,
        # cross-modal curation gate: text LM band x image dup-cluster
        # canonicality x audio silence floor -> one keep verdict per doc
        "multimodal_curation": MM.q_multimodal_curation,
        # 64-bit average-hash over REAL decoded pixels (Arrow decode
        # stage), integer-exact vs the generative-rule oracle
        "multimodal_phash": MM.q_multimodal_phash,
        # image near-dup: any-of-4-band LSH candidates + full 64-bit
        # Hamming verify — the image analog of dedup_simhash_pairs
        "multimodal_phash_pairs": MM.q_multimodal_phash_pairs,
        # capped per-image top-K pHash neighbors (pair-mining contract)
        "multimodal_phash_knn": MM.q_multimodal_phash_knn,
        # image dup clusters: star-contraction CC over the Hamming graph,
        # survivor = min media_id (the image twin of dedup_clusters)
        "multimodal_phash_clusters": MM.q_multimodal_phash_clusters,
        # log2-binned degree distribution + exact tail moments
        "graph_degree_histogram": G.q_graph_degree_histogram,
        "ml_risk_model": ML.q_ml_risk_model,
        # k-fold CV of the closed-form ridge via sufficient statistics:
        # train stats = total - fold on exact BIGINT moments, one pass
        "ml_risk_model_cv": ML.q_ml_risk_model_cv,
        # model reliability table: predicted-risk deciles vs actual
        "ml_calibration": A.q_ml_calibration,
        # Murphy decomposition of the surrogate's Brier score
        "eval_brier_decomposition": EV.q_eval_brier_decomposition,
        # winnowing overlap pairs via the fingerprint inverted index,
        # hot-fingerprint df cap (the Jaccard anti-join cure)
        "winnowing_pairs": D.q_winnowing_pairs,
        # TPC-H Q11 adapted: global-scalar HAVING over derived part value
        "tpch_q11_value_parts": OL.q_tpch_q11_value_parts,
        # TPC-H Q20 adapted: nested semi-join chain w/ decorrelated
        # surplus condition
        "tpch_q20_qty_surplus": OL.q_tpch_q20_qty_surplus,
        # exact-integer Pearson matrix over lineitem numerics
        "dq_column_correlation": MON.q_dq_column_correlation,
        # day-of-week-adjusted MAD anomaly days
        "dq_seasonal_mad_anomaly": MON.q_dq_seasonal_mad_anomaly,
        # per-source character-digram entropy (micro-nats)
        "text_digram_entropy": TX.q_text_digram_entropy,
        # per-source centroid drift over the int8 grid
        "embedding_source_drift": SIM.q_embedding_source_drift,
        # ppm-decile histogram of local clustering coefficients
        "graph_clustering_coefficient":
            ASSOC.q_graph_clustering_coefficient,
        # leakage-safe train/val/test split keyed on the content
        # fingerprint, not the row id
        "sample_split": TX.q_sample_split,
        # weekly cohort-retention triangle over events
        "events_retention": A.q_events_retention,
        # asymmetric shingle-containment near-dup — doc-inside-doc
        # duplication Jaccard misses
        "dedup_containment": D.q_dedup_containment,
        # strictly-ordered conversion funnel with per-step windows
        "events_funnel": A.q_events_funnel,
        # Misra-Gries candidate sketch + exact confirm: frequency > n/K
        # words without shuffling the vocabulary long tail
        "text_heavy_hitters": TX.q_text_heavy_hitters,
        # distributed as-of join (pandas merge_asof / ASOF JOIN semantics)
        # via the union-sort-carry-forward window — no pair blowup
        "events_asof_view": A.q_events_asof_view,
        # integer-exact median/MAD robust anomaly flags on daily volumes
        "events_anomaly": A.q_events_anomaly,
        # PMI collocations ranked by a 128-bit-exact integer ratio
        "text_collocations": TX.q_text_collocations,
        # trailing-7-day RANGE-frame rolling volumes on the bounded daily
        # frame; integer-milli sums for cross-engine frame exactness
        "events_rolling_7d": A.q_events_rolling_7d,
        # chi-squared lang x source contingency at ppm scale, 128-bit
        # exact — the split-confounding check
        "text_chi2_lang_source": TX.q_text_chi2_lang_source,
        # equi-depth n_chars histogram via total-order ntile
        "text_length_histogram": TX.q_text_length_histogram,
        # conjunctive keyword search: postings filtered to the term set
        # BEFORE the per-doc shuffle (inverted-index cost model)
        "text_search_and": TX.q_text_search_and,
        # exact phrase search via per-document position-array scan
        "text_search_phrase": TX.q_text_search_phrase,
        # Markov transition matrix over user journeys: lead window +
        # exact ppm shares
        "events_transitions": A.q_events_transitions,
        # 0.1-degree accident heatmap with 3x3 shift-and-sum smoothing,
        # integer counts end-to-end
        "accidents_density_grid": A.q_accidents_density_grid,
        # reciprocal-rank fusion of the BM25 + dense-cosine legs — the
        # hybrid-search stack; fusion joins two k-row frames
        "search_hybrid_rrf": SIM.q_search_hybrid_rrf,
        # BPE tokenizer training: per-round vocabulary-grain pair counts +
        # 1-row argmax; corpus touched once for word counts
        "bpe_train": TX.q_bpe_train,
        # tokenizer APPLICATION: per-word segmentations broadcast onto the
        # token stream — encode cost rides the vocabulary, not the corpus
        "bpe_encode": TX.q_bpe_encode,
        # exact dyadic EWMA (Horner fold over a bounded ROWS frame) — the
        # oracle-checkable batch sibling of the streaming EMA state op
        "events_ema": A.q_events_ema,
        # contrastive pair mining: ANN positives + reproducible hash-drawn
        # negatives (no similarity math on the negative path)
        "sample_contrastive_pairs": SIM.q_sample_contrastive_pairs,
        # MOSS winnowing fingerprints: guaranteed detection of shared
        # substrings >= W+K-1 tokens at ~n/W stored hashes per doc
        "text_winnowing": D.q_text_winnowing,
        # retrieval eval harness: LSH-ANN vs exact ground truth —
        # recall@k / MRR as exact ppm ints, eval cost corpus-independent
        "search_eval_metrics": SIM.q_search_eval_metrics,
        # multinomial NB lang classifier: integer micro-nat model weights
        # -> exact BIGINT score sums -> deterministic argmax + confusion
        "text_nb_confusion": TX.q_text_nb_confusion,
        # Laplace bigram LM: integer micro-bit model cells -> exact
        # BIGINT per-doc sums (same determinism convention as NB)
        "text_bigram_lm": TX.q_text_bigram_lm,
        # c-TF-IDF distinctive terms per source (BERTopic-style), integer
        # micro-nat idf -> exact BIGINT ranking
        "text_ctfidf_topk": TX.q_text_ctfidf_topk,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "k1_haversine": KQ.sql_haversine(),
        "k2_spatial_weight": KQ.sql_spatial_weight(),
        "k3_temporal_weight": KQ.sql_temporal_weight(),
        "k4_season_of_orders": KQ.sql_season_of_orders(),
        "k10_route_type_weight": KQ.sql_route_type_weight(),
        "k11_severity": KQ.sql_severity(),
        "k13_elevation_weight": KQ.sql_elevation_weight(),
        "k14_grade_weight": KQ.sql_grade_weight(),
        "k16_route_type_inference": KQ.sql_route_type_inference(),
        "k16b_route_type_confidence": KQ.sql_route_type_confidence(),
        "k19_bearing_impact": KQ.sql_bearing_impact(),
        "w_weather_window": W.sql_weather_window(),
        "w_freeze_thaw": W.sql_freeze_thaw(),
        "w_similarity": W.sql_weather_similarity(),
        "w_extreme_multiplier": W.sql_extreme_multiplier(),
        "k5_pearson_factors": W.sql_pearson_factors(),
        "a6_weighted_stats": W.sql_weighted_stats(),
        "sample_domain_quota": TX.sql_sample_domain_quota(),
        "decontam_substring": D.sql_decontam_substring(),
        "text_unigram_lm": TX.sql_text_unigram_lm(),
        "dedup_incremental": D.sql_dedup_incremental(),
        "ann_filtered_topk": SIM.sql_ann_filtered_topk(),
        "ann_filtered_ivf_topk": ML.sql_ann_filtered_ivf_certified(),
        "sample_mixture": TX.sql_sample_mixture(),
        "dedup_semantic": SIM.sql_dedup_semantic(),
        "dedup_repeated_ngrams": D.sql_dedup_repeated_ngrams(),
        # the iterative trio's self-certifying contracts (VERDICT r3 item 3)
        "ann_ivf_topk": ML.sql_ann_ivf_certified(),
        "ann_pq_topk": ML.sql_ann_pq_certified(),
        "embedding_kmeans_cells": ML.sql_embedding_kmeans_certified(),
        "risk_scores": scoring.risk_scores_sql(),
        "risk_scores_capped": scoring.risk_scores_capped_sql(),
        "top_contributors": scoring.top_contributors_sql(),
        "top_contributors_capped": scoring.top_contributors_capped_sql(),
        "risk_factor_breakdown": scoring.factor_breakdown_sql(),
        "cache_warming_top_routes": scoring.cache_warming_sql(),
        "f1_accident_filter": R.sql_accident_filter(),
        "f2_route_search": R.sql_route_search(),
        "f3_route_search_rock": R.sql_route_search_rock(),
        "f4_predict_prefilter": R.sql_predict_prefilter(),
        "f7_bbox_radius_filter": R.sql_bbox_radius_filter(),
        "j1_routes_with_coords": R.sql_routes_with_coords(),
        "j5_location_breadcrumb": R.sql_location_breadcrumb(),
        "j7_fuzzy_route_match": R.sql_fuzzy_route_match(),
        "a2_route_page": R.sql_route_page(),
        "a5_location_route_counts": R.sql_location_route_counts(),
        "a9_location_mode_type": R.sql_location_mode_type(),
        "a3_seasonal_patterns": A.sql_seasonal_patterns(),
        "a4_ascent_rates": A.sql_ascent_rates(),
        "a7_weather_monthly_stats": A.sql_weather_monthly_stats(),
        "a8_risk_trend": A.sql_risk_trend(),
        "w3_climbing_windows": A.sql_climbing_windows(),
        "k21_hourly_risk": A.sql_hourly_risk(),
        "risk_rollup": A.sql_risk_rollup(),
        "s4_location_routes_assembled": ASM.sql_location_routes_assembled(),
        "s3_weather_arrays_assembled": ASM.sql_weather_arrays_assembled(),
        "k22_weather_summary": ASM.sql_weather_summary(),
        "location_forecast_horizon": ASM.sql_location_forecast(),
        "j2_weather_range_join": RJ.sql_weather_range_join(),
        "predict_point": RJ.sql_predict_point(),
        "batch_scores": B.batch_scores_sql(),
        "batch_scores_classed": B.batch_scores_classed_sql(),
        "batch_scores_capped": B.batch_scores_capped_sql(),
        "dedup_exact": D.sql_dedup_exact(),
        "dedup_ngram_jaccard": D.sql_dedup_jaccard(),
        "dedup_minhash_signatures": D.sql_minhash_signatures(),
        "dedup_minhash_lsh": D.sql_dedup_minhash_lsh(),
        "dedup_clusters": D.sql_dedup_clusters(),
        # the star-contraction form must reproduce the exact same clusters
        "dedup_clusters_largestar": D.sql_dedup_clusters(),
        "curation_funnel": D.sql_curation_funnel(),
        "dedup_simhash": D.sql_simhash(),
        "dedup_simhash_pairs": D.sql_dedup_simhash_pairs(),
        "ann_cosine_topk": SIM.sql_cosine_topk(),
        "ann_lsh_topk": SIM.sql_ann_lsh(),
        "embedding_stats": SIM.sql_embedding_stats(),
        "text_token_counts": TX.sql_token_counts(),
        "text_lang_stats": TX.sql_lang_stats(),
        "text_lang_id": TX.sql_lang_id(),
        "text_quality_score": TX.sql_quality_score(),
        "text_doc_fingerprint": TX.sql_doc_fingerprint(),
        "text_token_count_bpe": TX.sql_token_count_bpe(),
        "dedup_embedding_cosine": SIM.sql_dedup_embedding_cosine(),
        "ml_risk_model": ML.sql_ml_risk_model(),
        "multimodal_png_meta": MM.sql_multimodal_png_meta(),
        "multimodal_wav_meta": MM.sql_multimodal_wav_meta(),
        "multimodal_png_resize": MM.sql_multimodal_png_resize(),
        "k8_extreme_breakdown": W.sql_extreme_breakdown(),
        "j5_breadcrumb_recursive": R.sql_location_breadcrumb(),
        "text_tfidf_topk": TX.sql_text_tfidf(),
        "text_chunks": TX.sql_text_chunks(),
        "sample_stratified": TX.sql_sample_stratified(),
        "text_pack_offsets": TX.sql_text_pack_offsets(),
        "text_repetition": TX.sql_text_repetition(),
        "skew_salted_sum": SK.sql_skew_salted_sum(),
        "ann_cosine_topk_int8": SIM.sql_ann_cosine_int8(),
        "dedup_filtered_docs": D.sql_dedup_filtered_docs(),
        "events_json_stats": A.sql_events_json_stats(),
        "events_cardinality_stats": A.sql_events_cardinality_stats(),
        "events_approx_stats": A.sql_events_approx_stats(),
        "events_sessionization": SESS.sql_events_sessionization(),
        "events_correlated": CORR.sql_events_correlated(),
        "sample_softdedup": D.sql_sample_softdedup(),
        "knn_classify": SIM.sql_knn_classify(),
        "sample_split": TX.sql_sample_split(),
        "events_retention": A.sql_events_retention(),
        "dedup_containment": D.sql_dedup_containment(),
        "events_funnel": A.sql_events_funnel(),
        "text_heavy_hitters": TX.sql_text_heavy_hitters(),
        "events_asof_view": A.sql_events_asof_view(),
        "events_anomaly": A.sql_events_anomaly(),
        "text_collocations": TX.sql_text_collocations(),
        "graph_pagerank": G.sql_graph_pagerank(),
        "events_rolling_7d": A.sql_events_rolling_7d(),
        "text_chi2_lang_source": TX.sql_text_chi2_lang_source(),
        "text_length_histogram": TX.sql_text_length_histogram(),
        "text_search_and": TX.sql_text_search_and(),
        "text_search_phrase": TX.sql_text_search_phrase(),
        "events_transitions": A.sql_events_transitions(),
        "accidents_density_grid": A.sql_accidents_density_grid(),
        "accidents_month_pivot": A.sql_accidents_month_pivot(),
        "risk_cube": A.sql_risk_cube(),
        "text_decontamination": D.sql_text_decontamination(),
        "text_pii_scan": TX.sql_pii_scan(),
        "text_bm25_topk": TX.sql_text_bm25_topk(),
        "search_hybrid_rrf": SIM.sql_search_hybrid_rrf(),
        "multimodal_phash": MM.sql_multimodal_phash(),
        "multimodal_phash_pairs": MM.sql_multimodal_phash_pairs(),
        "bpe_train": TX.sql_bpe_train(),
        "bpe_encode": TX.sql_bpe_encode(),
        "events_ema": A.sql_events_ema(),
        "sample_contrastive_pairs": SIM.sql_sample_contrastive_pairs(),
        "text_winnowing": D.sql_text_winnowing(),
        "winnowing_pairs": D.sql_winnowing_pairs(),
        "multimodal_wav_energy": MM.sql_multimodal_wav_energy(),
        "search_eval_metrics": SIM.sql_search_eval_metrics(),
        "text_nb_confusion": TX.sql_text_nb_confusion(),
        "text_bigram_lm": TX.sql_text_bigram_lm(),
        "text_ctfidf_topk": TX.sql_text_ctfidf_topk(),
        "dedup_source_flow": D.sql_dedup_source_flow(),
        "f8_polygon_filter": R.sql_polygon_filter(),
        "text_bm25_multi": TX.sql_text_bm25_multi(),
        "events_ab_test": A.sql_events_ab_test(),
        "multimodal_phash_clusters": MM.sql_multimodal_phash_clusters(),
        "dedup_eval": D.sql_dedup_eval(),
        "multimodal_video_frames": MM.sql_multimodal_video_frames(),
        "multimodal_curation": MM.sql_multimodal_curation(),
        "sample_mixture_quality": TX.sql_sample_mixture_quality(),
        "ann_ivf_pq_topk": ML.sql_ann_ivf_pq_certified(),
        "text_perplexity_filter": TX.sql_text_perplexity_filter(),
        "star_revenue": A.sql_star_revenue(),
        "events_scd2": A.sql_events_scd2(),
        "entity_resolution": R.sql_entity_resolution(),
        "orders_skyline": A.sql_orders_skyline(),
        "events_attribution": A.sql_events_attribution(),
        "basket_pairs_lift": ASSOC.sql_basket_pairs(),
        "graph_triangles": ASSOC.sql_graph_triangles(),
        "events_growth": A.sql_events_growth(),
        "dq_assertions": R.sql_dq_assertions(),
        "ml_risk_model_cv": ML.sql_ml_risk_model_cv(),
        "events_rolling_distinct": A.sql_events_rolling_distinct(),
        "cf_item_neighbors": ASSOC.sql_cf_item_neighbors(),
        "geo_hotspots": ASSOC.sql_geo_hotspots(),
        "events_survival": A.sql_events_survival(),
        "sample_active_learning": TX.sql_sample_active_learning(),
        "location_subtree_rollup": R.sql_location_subtree_rollup(),
        "orders_ltv_cohorts": A.sql_orders_ltv_cohorts(),
        "part_brand_share": ASSOC.sql_part_brand_share(),
        "events_paths": A.sql_events_paths(),
        "orders_growth": A.sql_orders_growth(),
        "accidents_month_unpivot": A.sql_accidents_month_unpivot(),
        "risk_peer_rank": A.sql_risk_peer_rank(),
        "events_gapfill": A.sql_events_gapfill(),
        "ml_calibration": A.sql_ml_calibration(),
        "events_twap": A.sql_events_twap(),
        "text_gopher_rules": CU.sql_text_gopher_rules(),
        "text_pii_redact": CU.sql_text_pii_redact(),
        "sample_dsir": CU.sql_sample_dsir(),
        "text_distinct_ngrams": CU.sql_text_distinct_ngrams(),
        "bpe_fertility": CU.sql_bpe_fertility(),
        "tpch_q1_pricing": OL.sql_tpch_q1_pricing(),
        "tpch_q3_priority": OL.sql_tpch_q3_priority(),
        "embedding_covariance": OL.sql_embedding_covariance(),
        "tpch_q4_semijoin": OL.sql_tpch_q4_semijoin(),
        "tpch_q13_custdist": OL.sql_tpch_q13_custdist(),
        "text_kneser_ney": CU.sql_text_kneser_ney(),
        "events_holt": FC.sql_events_holt(),
        "orders_rfm": FC.sql_orders_rfm(),
        "search_mmr": FC.sql_search_mmr(),
        "events_psi_drift": MON.sql_events_psi_drift(),
        "dq_skew_profile": MON.sql_dq_skew_profile(),
        "search_ndcg": CU.sql_search_ndcg(),
        "text_strip_boilerplate": CU.sql_text_strip_boilerplate(),
        "orders_pareto": OL.sql_orders_pareto(),
        "tpch_q10_returns": OL.sql_tpch_q10_returns(),
        "parts_never_returned": OL.sql_parts_never_returned(),
        "tpch_q17_smallqty": OL.sql_tpch_q17_smallqty(),
        "tpch_q5_local_supplier": OL.sql_tpch_q5_local_supplier(),
        "tpch_q6_forecast": OL.sql_tpch_q6_forecast(),
        "tpch_q7_volume": OL.sql_tpch_q7_volume(),
        "tpch_q8_market_share": OL.sql_tpch_q8_market_share(),
        "tpch_q14_promo": OL.sql_tpch_q14_promo(),
        "tpch_q15_top_supplier": OL.sql_tpch_q15_top_supplier(),
        "tpch_q18_large_orders": OL.sql_tpch_q18_large_orders(),
        "tpch_q12_priority_class": OL.sql_tpch_q12_priority_class(),
        "tpch_q19_disjunctive": OL.sql_tpch_q19_disjunctive(),
        "tpch_q21_lone_late_supplier": OL.sql_tpch_q21_lone_late_supplier(),
        "tpch_q22_lost_customers": OL.sql_tpch_q22_lost_customers(),
        "dq_column_profile": MON.sql_dq_column_profile(),
        "dq_k_anonymity": MON.sql_dq_k_anonymity(),
        "knn_label_noise": SIM.sql_knn_label_noise(),
        "ann_recall_curve": SIM.sql_ann_recall_curve(),
        "embedding_class_separation": SIM.sql_embedding_class_separation(),
        "sample_hard_negatives": SIM.sql_sample_hard_negatives(),
        "eval_cohens_kappa": SIM.sql_eval_cohens_kappa(),
        "sample_time_embargo": CU.sql_sample_time_embargo(),
        "layout_zorder": LAY.sql_layout_zorder(),
        "sample_coreset_fps": SIM.sql_sample_coreset_fps(),
        "dedup_canonical": D.sql_dedup_canonical(),
        "events_latency_percentiles": MON.sql_events_latency_percentiles(),
        "events_mad_outliers": MON.sql_events_mad_outliers(),
        "dq_table_fingerprint": MON.sql_dq_table_fingerprint(),
        "dq_join_cardinality": MON.sql_dq_join_cardinality(),
        "features_quantile_bins": MON.sql_features_quantile_bins(),
        "events_changepoint": MON.sql_events_changepoint(),
        "text_zipf_fit": CU.sql_text_zipf_fit(),
        "events_seasonality": FC.sql_events_seasonality(),
        "orders_abc_class": OL.sql_orders_abc_class(),
        "dq_referential_integrity": MON.sql_dq_referential_integrity(),
        "dq_freshness_lag": MON.sql_dq_freshness_lag(),
        "dq_unique_key_check": MON.sql_dq_unique_key_check(),
        "orders_backlog_aging": OL.sql_orders_backlog_aging(),
        "risk_grouping_sets": OL.sql_risk_grouping_sets(),
        "bpe_roundtrip": CU.sql_bpe_roundtrip(),
        "multimodal_wav_segments": MM.sql_multimodal_wav_segments(),
        "events_forecast_eval": FC.sql_events_forecast_eval(),
        "sample_learnability": CU.sql_sample_learnability(),
        "eval_roc_auc": EV.sql_eval_roc_auc(),
        "eval_pr_auc": EV.sql_eval_pr_auc(),
        "eval_ks_statistic": EV.sql_eval_ks_statistic(),
        "ml_gains_deciles": EV.sql_ml_gains_deciles(),
        "dq_benford": MON.sql_dq_benford(),
        "embedding_quantization_error":
            SIM.sql_embedding_quantization_error(),
        "embedding_norm_profile": SIM.sql_embedding_norm_profile(),
        "embedding_maha_diag": SIM.sql_embedding_maha_diag(),
        "embedding_cell_balance": SIM.sql_embedding_cell_balance(),
        "sample_stratified_neyman": CU.sql_sample_stratified_neyman(),
        "dedup_duplicate_spans": D.sql_dedup_duplicate_spans(),
        "text_ttr_hapax": TX.sql_text_ttr_hapax(),
        "text_char_trigram_profile": TX.sql_text_char_trigram_profile(),
        "geo_knn_grid": R.sql_geo_knn_grid(),
        "graph_common_neighbors": G.sql_graph_common_neighbors(),
        "dq_sequence_gaps": MON.sql_dq_sequence_gaps(),
        "embedding_pca_power": OL.sql_embedding_pca_power(),
        "events_markov_stationary": A.sql_events_markov_stationary(),
        "dq_duplicate_payments": MON.sql_dq_duplicate_payments(),
        "events_bounce_rate": A.sql_events_bounce_rate(),
        "dedup_cross_source_overlap": D.sql_dedup_cross_source_overlap(),
        "features_target_encoding": MON.sql_features_target_encoding(),
        "dq_order_reconciliation": MON.sql_dq_order_reconciliation(),
        "events_funnel_ttc": A.sql_events_funnel_ttc(),
        "dq_volume_anomaly": MON.sql_dq_volume_anomaly(),
        "events_stickiness": A.sql_events_stickiness(),
        "supplier_hhi": OL.sql_supplier_hhi(),
        "dq_enum_drift": MON.sql_dq_enum_drift(),
        "dq_functional_dependency": MON.sql_dq_functional_dependency(),
        "dq_error_budget": MON.sql_dq_error_budget(),
        "events_burst_velocity": A.sql_events_burst_velocity(),
        "events_entropy_daily": A.sql_events_entropy_daily(),
        "orders_ship_latency": OL.sql_orders_ship_latency(),
        "embedding_triplet_violations":
            SIM.sql_embedding_triplet_violations(),
        "dq_tukey_fences": MON.sql_dq_tukey_fences(),
        "lineitem_discount_curve": OL.sql_lineitem_discount_curve(),
        "text_chunking": TX.sql_text_chunking(),
        "text_vocab_novelty": TX.sql_text_vocab_novelty(),
        "text_oov_rate": TX.sql_text_oov_rate(),
        "text_idf_drift": TX.sql_text_idf_drift(),
        "text_burstiness": TX.sql_text_burstiness(),
        "tpch_q2_mincost": OL.sql_tpch_q2_mincost(),
        "tpch_q16_supplier_cnt": OL.sql_tpch_q16_supplier_cnt(),
        "sample_temperature": CU.sql_sample_temperature(),
        "events_autocorr": A.sql_events_autocorr(),
        "events_hour_heatmap": A.sql_events_hour_heatmap(),
        "events_interarrival": A.sql_events_interarrival(),
        "events_peak_concurrency": A.sql_events_peak_concurrency(),
        "events_new_vs_returning": A.sql_events_new_vs_returning(),
        "events_user_gini": A.sql_events_user_gini(),
        "graph_kcore": G.sql_graph_kcore(),
        "graph_assortativity": G.sql_graph_assortativity(),
        "graph_degree_histogram": G.sql_graph_degree_histogram(),
        "tpch_q11_value_parts": OL.sql_tpch_q11_value_parts(),
        "tpch_q20_qty_surplus": OL.sql_tpch_q20_qty_surplus(),
        "dq_column_correlation": MON.sql_dq_column_correlation(),
        "dq_seasonal_mad_anomaly": MON.sql_dq_seasonal_mad_anomaly(),
        "text_digram_entropy": TX.sql_text_digram_entropy(),
        "embedding_source_drift": SIM.sql_embedding_source_drift(),
        "eval_brier_decomposition": EV.sql_eval_brier_decomposition(),
        "multimodal_phash_knn": MM.sql_multimodal_phash_knn(),
        "graph_clustering_coefficient":
            ASSOC.sql_graph_clustering_coefficient(),
        "s8_score_roundtrip": SNK.sql_s8_score_roundtrip(),
        "s9_retention_survivors": SNK.sql_s9_retention_survivors(),
        "dedup_longest_span": D.sql_dedup_longest_span(),
        "ml_isotonic_calibration": EV.sql_ml_isotonic_calibration(),
        "tpch_q9_product_profit": OL.sql_tpch_q9_product_profit(),
        "events_late_arrival_audit": A.sql_events_late_arrival_audit(),
        "batch_scores_incremental": B.sql_batch_scores_incremental(),
        "embedding_matryoshka_recall":
            SIM.sql_embedding_matryoshka_recall(),
        "ann_ivf_incremental": SIM.sql_ann_ivf_incremental(),
        "sink_compaction_roundtrip":
            SNK.sql_sink_compaction_roundtrip(),
    }
