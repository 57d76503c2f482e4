"""Machine-check of the standing dual-SF registration gate
(VERDICT r9 item 2: "enforce the dual-SF gate as machinery, not
memory").

From round 10 on, every new ``queries()`` registration must carry a
committed bit-exact row at BOTH sf0.01 and sf0.1 in the round's
``CROSSSF_r{N}.json`` BEFORE it ships — the artifact
``tools/crosssf_check.py`` writes.  This test recomputes the claim
from the artifact + the per-round lists below so the invariant fails
loudly if a wave registers without its dual-SF evidence (the way
``tests/test_plans.py`` enforces 100% plan-snapshot coverage).
"""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as E

REPO = Path(__file__).resolve().parent.parent

# round -> the queries first registered in that round; a round that
# registers queries adds its row here.
GATED_WAVES = {
    10: ["graph_degree_histogram", "tpch_q11_value_parts",
         "tpch_q20_qty_surplus", "dq_column_correlation",
         "dq_seasonal_mad_anomaly", "text_digram_entropy",
         "embedding_source_drift", "eval_brier_decomposition",
         "multimodal_phash_knn", "graph_clustering_coefficient"],
    11: ["s8_score_roundtrip", "s9_retention_survivors",
         "dedup_longest_span", "ml_isotonic_calibration",
         "tpch_q9_product_profit", "events_late_arrival_audit",
         "batch_scores_incremental", "embedding_matryoshka_recall"],
    12: ["ann_ivf_incremental", "sink_compaction_roundtrip"],
}


def test_every_new_registration_has_dual_sf_evidence():
    for rnd, new in GATED_WAVES.items():
        path = REPO / f"CROSSSF_r{rnd:02d}.json"
        if not new:
            continue  # nothing registered this round (yet)
        assert path.exists(), f"round {rnd} registered {len(new)} " \
            f"queries but {path.name} is missing"
        art = json.loads(path.read_text())
        for sf in ("sf0.01", "sf0.1"):
            assert sf in art, (rnd, sf)
            missing = [n for n in new if n not in art[sf]]
            assert missing == [], (rnd, sf, missing)
            not_exact = [n for n in new if not art[sf][n]["exact"]]
            assert not_exact == [], (rnd, sf, not_exact)


def test_crosssf_artifact_names_are_registered():
    """No stray rows: everything the artifact claims exists in the
    registered surface (guards against renamed-then-forgotten rows)."""
    registered = set(E.queries())
    for rnd in GATED_WAVES:
        path = REPO / f"CROSSSF_r{rnd:02d}.json"
        if not path.exists():
            continue
        art = json.loads(path.read_text())
        for sf, rows in art.items():
            stray = sorted(set(rows) - registered)
            assert stray == [], (rnd, sf, stray)
