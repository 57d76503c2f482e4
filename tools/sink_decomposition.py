#!/usr/bin/env python
"""Phase-decompose the s8/s9 sink roundtrips at two SFs (VERDICT r11
item 4, the round-10 PCA-decomposition protocol).

The r11 curves read s8_score_roundtrip at 4.04x and
s9_retention_survivors at 3.09x for 10x data, attributed (but not
proven) to the capped-scoring upstream + linear write volume.  This
tool times each phase separately, interleaved best-of-N per SF:

  * upstream  — materialize the capped score table (the session-memoized
                checkpoint, evicted first so each run pays it once)
  * writes    — s8: 2 date partitions; s9: 3 partitions + row-level
                MERGE layer + retention purge (all txlog commits)
  * readback  — s8: one date's files + broadcast-MGET serving read;
                s9: merge-on-read survivor aggregate

Usage:
    python tools/sink_decomposition.py            # sf0.1 vs .testdata_sf1
    SF_A=... SF_B=... N=3 python tools/sink_decomposition.py

Prints one JSON object; splice the result into BENCH_sf1.json under
"round12_sink_decomposition".
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_A = os.environ.get("SF_A", "/root/testdata/sf0.1")
SF_B = os.environ.get("SF_B", ".testdata_sf1")
N = int(os.environ.get("N", "3"))


def _t(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 3)


def main() -> None:
    from safeascent_spark import domain, sinks
    from safeascent_spark.session import get_spark

    spark = get_spark("sink_decomposition")
    sfs = [os.path.abspath(p) for p in (SF_A, SF_B)]
    best: dict[str, dict[str, float]] = {
        sf: {} for sf in sfs}

    def record(sf: str, phase: str, sec: float) -> None:
        cur = best[sf].get(phase)
        best[sf][phase] = sec if cur is None else min(cur, sec)

    for _ in range(N):
        for sf in sfs:
            # evict the memoized upstream so this leg pays it exactly once
            memo = domain.session_cache(spark, "sink_scores_frame")
            old = memo.pop(sf, None)
            if old is not None:
                domain.release_frames([old._jdf])
            record(sf, "upstream",
                   _t(lambda: sinks._scores_ckpt(spark, sf)))

            tmp8 = sinks._sink_scratch_dir(spark, "decomp_s8_")
            try:
                record(sf, "s8_writes",
                       _t(lambda: sinks._s8_write_phase(spark, sf, tmp8)))
                record(sf, "s8_readback",
                       _t(lambda: sinks._s8_read_frame(spark, sf, tmp8)
                          .write.format("noop").mode("overwrite").save()))
            finally:
                shutil.rmtree(tmp8, ignore_errors=True)

            tmp9 = sinks._sink_scratch_dir(spark, "decomp_s9_")
            try:
                record(sf, "s9_writes",
                       _t(lambda: sinks._s9_write_phase(spark, sf, tmp9)))
                record(sf, "s9_readback",
                       _t(lambda: sinks._s9_read_frame(spark, sf, tmp9)
                          .write.format("noop").mode("overwrite").save()))
            finally:
                shutil.rmtree(tmp9, ignore_errors=True)

    a, b = sfs
    ratios = {ph: (round(best[b][ph] / best[a][ph], 2)
                   if best[a][ph] > 0 else None)
              for ph in best[a]}
    print(json.dumps({"measured": best, "ratios_b_over_a": ratios,
                      "n": N, "sf_a": a, "sf_b": b}, indent=1))


if __name__ == "__main__":
    main()
