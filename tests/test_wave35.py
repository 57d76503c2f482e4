"""Round-12 wave-35 semantics, each cross-checked against a
driver-side brute force at sf0.001 (the registration checklist's
brute-force leg; the DuckDB oracle + dual-SF bit-exact legs live in
CORRECTNESS_LOCAL_r12 / CROSSSF_r12).
"""

from __future__ import annotations

from safeascent_spark import sinks as SNK
from safeascent_spark.operators import scoring
from safeascent_spark.operators import similarity as SIM
from tests.conftest import SF_SMOKE


# --- ann_ivf_incremental -------------------------------------------------------

def _brute_ivf_incremental(spark):
    """Replay the whole maintenance step in pure Python ints."""
    K, M = SIM.IVF_INC_CELLS, SIM.IVF_INC_FRESH_MOD
    rows = SIM.quantized_df(spark, SF_SMOKE).collect()
    vecs = {r.vec_id: [int(x) + 127 for x in r.qvec] for r in rows}
    base = {i: v for i, v in vecs.items() if i % M != 7}
    fresh = {i: v for i, v in vecs.items() if i % M == 7}
    dim = len(next(iter(vecs.values())))

    def trunc_div(a, b):
        return int(a / b) if b else 0  # both engines truncate toward 0

    def mean_of(ids):
        return [trunc_div(sum(base[i][j] for i in ids), len(ids))
                for j in range(dim)]

    shards = {j: [i for i in base if i % K == j] for j in range(K)}
    cent0 = {j: mean_of(shards[j]) for j in range(K)}

    def assign(v, cents):
        return min(cents, key=lambda j: (
            sum((a - b) * (a - b) for a, b in zip(v, cents[j])), j))

    abase = {i: assign(v, cent0) for i, v in base.items()}
    afresh = {i: assign(v, cent0) for i, v in fresh.items()}
    cent1 = {}
    for j in range(K):
        members = ([base[i] for i in abase if abase[i] == j]
                   + [fresh[i] for i in afresh if afresh[i] == j])
        cent1[j] = ([trunc_div(sum(v[d] for v in members), len(members))
                     for d in range(dim)] if members else cent0[j])
    abase1 = {i: assign(v, cent1) for i, v in base.items()}
    out = {}
    for j in range(K):
        nb = sum(1 for i in abase if abase[i] == j)
        nm = sum(1 for i in abase if abase[i] == j and abase1[i] != j)
        out[j] = {
            "n_base": nb,
            "n_fresh": sum(1 for i in afresh if afresh[i] == j),
            "shift_sq": sum((a - b) * (a - b)
                            for a, b in zip(cent0[j], cent1[j])),
            "n_moved": nm,
            "moved_ppm": trunc_div(nm * 1_000_000, nb) if nb else 0,
        }
    return out


def test_ivf_incremental_matches_bruteforce(spark):
    want = _brute_ivf_incremental(spark)
    got = SIM.q_ann_ivf_incremental(spark, SF_SMOKE).collect()
    assert sorted(r.cell for r in got) == sorted(want)
    for r in got:
        w = want[r.cell]
        assert (r.n_base, r.n_fresh, r.shift_sq, r.n_moved,
                r.moved_ppm) == (w["n_base"], w["n_fresh"],
                                 w["shift_sq"], w["n_moved"],
                                 w["moved_ppm"]), r.cell


def test_ivf_incremental_accounts_for_every_vector(spark):
    """No silent caps: the cell rows partition both corpora exactly."""
    K, M = SIM.IVF_INC_CELLS, SIM.IVF_INC_FRESH_MOD
    n_all = SIM.quantized_df(spark, SF_SMOKE).count()
    n_fresh = (SIM.quantized_df(spark, SF_SMOKE)
               .filter(f"vec_id % {M} == 7").count())
    got = SIM.q_ann_ivf_incremental(spark, SF_SMOKE).collect()
    assert len(got) == K
    assert sum(r.n_base for r in got) == n_all - n_fresh
    assert sum(r.n_fresh for r in got) == n_fresh


def test_ivf_incremental_state_is_session_memoized(spark):
    """Second build reuses the checkpointed index state (the ADVICE r11
    discipline for corpus-proportional checkpoints)."""
    from safeascent_spark import domain
    SIM.q_ann_ivf_incremental(spark, SF_SMOKE).collect()
    n = len(domain.release_registry(spark))
    SIM.q_ann_ivf_incremental(spark, SF_SMOKE).collect()
    assert len(domain.release_registry(spark)) == n


# --- sink_compaction_roundtrip -------------------------------------------------

def test_compaction_preserves_served_content(spark):
    """The before/after rows must agree on every content column (a
    compaction that loses, duplicates, or mis-orders delta rows would
    diverge) and differ exactly 2 -> 0 in delta count."""
    rows = {r.phase: r for r in
            SNK.q_sink_compaction_roundtrip(spark, SF_SMOKE).collect()}
    assert set(rows) == {"before", "after"}
    b, a = rows["before"], rows["after"]
    assert b.n_delta_seqs == 2 and a.n_delta_seqs == 0
    for c in ("n_routes", "sum_risk_micro", "n_amended", "n_amended2",
              "sum_contributing"):
        assert getattr(b, c) == getattr(a, c), c


def test_compaction_matches_direct_merge(spark):
    """Served aggregate == the latest-wins expectation computed from
    the direct score table (delta 2 beats delta 1 on the overlap)."""
    direct = {r.route_id: r for r in
              scoring.risk_scores_capped_df(spark, SF_SMOKE).collect()}
    ma, mb = SNK.S10C_MOD_A, SNK.S10C_MOD_B
    n_am2 = sum(1 for i in direct if i % mb == 3)
    n_am1 = sum(1 for i in direct if i % ma == 0 and i % mb != 3)
    sum_contrib = sum(
        -2 if i % mb == 3 else -1 if i % ma == 0 else r.num_contributing
        for i, r in direct.items())
    got = {r.phase: r for r in
           SNK.q_sink_compaction_roundtrip(spark, SF_SMOKE).collect()}
    for ph in ("before", "after"):
        r = got[ph]
        assert r.n_routes == len(direct)
        assert r.n_amended == n_am1
        assert r.n_amended2 == n_am2
        assert r.sum_contributing == sum_contrib
        assert r.sum_risk_micro == sum(round(x.risk_score * 1_000_000)
                                       for x in direct.values())
