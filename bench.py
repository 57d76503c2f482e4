#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with per-query wall seconds.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship scoring pipeline + the scale-path variants +
# the beyond-reference operators.  Kept small so the number is
# interpretable; the full operator surface is exercised by the driver's
# correctness gate.  Round 6 extends the set with six round-5 heavies
# (VERDICT r5 item 3) so the LLM-pipeline surface gets round-over-round
# perf-regression visibility; the original eight stay first so the
# BENCH_r{1..5} series remains comparable on its prefix.
HEADLINE = [
    "risk_scores",
    "risk_scores_capped",
    "batch_scores",
    "batch_scores_classed",
    "top_contributors",
    "w_similarity",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    # round-5 heavies (r6+)
    "winnowing_pairs",
    "dedup_semantic",
    "text_bm25_multi",
    "multimodal_phash_clusters",
    "entity_resolution",
    "events_rolling_distinct",
    # round-6 heavies (r7+): the decorrelated double-EXISTS, the probe-
    # bounded index-tuning curve, and the dimension-grain separability
    "tpch_q21_lone_late_supplier",
    "ann_recall_curve",
    "embedding_class_separation",
    # round-7 heavies (r8+): the grid spatial kNN, the span-level dedup
    # pass, and the banded rank-statistic family's widest query
    "geo_knn_grid",
    "dedup_duplicate_spans",
    "eval_roc_auc",
    # round-8 heavies (r9+): the vocabulary-grain novelty curve (work
    # scales with distinct grams by construction) and the iterative
    # peel whose first sf curve caught an O(rounds^2) join chain
    "text_vocab_novelty",
    "graph_kcore",
    # round-9 heavies (r10+): the boundary-sweep concurrency pass (two
    # window families + a global banded prefix) and the full
    # distinct-score-grid rank statistic with per-block truncation
    "events_peak_concurrency",
    "eval_pr_auc",
    # round-10 (r10+): the wave-32 TPC-H canonical warehouse shapes
    # join the headline (VERDICT r9 item 7) — Q21 is already tracked
    "tpch_q2_mincost",
    "tpch_q16_supplier_cnt",
]


def main() -> None:
    from safeascent_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("safeascent-bench")
    queries = entry.queries()
    names = [n for n in HEADLINE if n in queries]
    # Warm the JVM + the session-scoped dimensions (weather similarity,
    # grade dim) at the benchmark SF: we measure steady-state query latency,
    # the analog of the reference's warm-cache serving numbers.
    queries[names[0]](spark, SF_DIR).write \
        .format("noop").mode("overwrite").save()

    # Interleaved passes, report the per-query minimum: local-VM noise
    # comes in multi-second bursts, so consecutive same-query runs would
    # both absorb a burst while interleaving spreads the risk.
    # r13 (VERDICT r12 item 2): additionally record each query's PASS-1
    # time ("queries_cold") so queries whose build reuses a session-
    # memoized dimension (winnowing fingerprints, pHash hashes) show an
    # honest cold/warm split — the min-of-3 alone lets a first-pass
    # materialization drop out of the reported number.  Additive key
    # only: "value"/"queries" keep the r1..r12 methodology byte-for-byte
    # (note: the JVM/dim warmup above runs names[0] once, so its pass-1
    # reading is session-warm like every round before).  Pass 1 is not
    # cold for a query whose builder reuses a session-memoized dimension
    # that an earlier query in the same pass already built, so
    # "queries_cold" can understate cold cost and depends on HEADLINE order.
    per_query: dict[str, float] = {}
    cold: dict[str, float] = {}
    for _pass in range(3):
        for name in names:
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if _pass == 0:
                cold[name] = dt
            if name not in per_query or dt < per_query[name]:
                per_query[name] = dt
    per_query = {k: round(v, 3) for k, v in per_query.items()}
    cold = {k: round(v, 3) for k, v in cold.items()}

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    print(json.dumps({
        "metric": "headline_total_runtime",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "queries_cold": cold,
        "sf": sf,
        # the original-8 subtotal: comparable to BENCH_r1..r5 "value"
        # (the full total includes the six r5 heavies added in r6)
        "value_legacy8": round(sum(v for k, v in per_query.items()
                                   if k in HEADLINE[:8]), 3),
        # the cores the timings ran on: a reading is comparable only to
        # one taken at the same parallelism and master
        "cpus_effective": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
