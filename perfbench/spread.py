#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload serve --seeds 10 [--first-seed 1]
        [--trace 0|1|both]

For every metric it prints the median over the runs and the distance
between the first and third quartile as a share of the median, next to the
metric's bound in BENCHMARK.json.  With ``--trace both`` each seed also runs
traced and the tracing overhead (median traced ``trace.wall_s`` minus
median untraced ``wall_s``) is printed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        check=True).stdout.strip().splitlines()
    res = json.loads(out[-1])
    res["run_s"] = time.perf_counter() - t0
    return res


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", choices=["0", "1", "both"], default="0")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]

    runs: dict[int, list[dict]] = {m: [] for m in modes}
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        for mode in modes:
            res = run_once(args.workload, seed, spec["run_seconds"], mode)
            runs[mode].append(res)
            print(json.dumps({"seed": seed, "trace": mode,
                              "correct": res["correct"],
                              "failed": res["failed"],
                              "run_s": round(res["run_s"], 1),
                              "metrics": {k: v["value"] for k, v in
                                          res["metrics"].items()}}),
                  flush=True)

    medians: dict[int, dict[str, float]] = {}
    for mode, results in runs.items():
        medians[mode] = {}
        print(f"\n{args.workload} trace={mode}: {len(results)} runs, "
              f"{sum(not r['correct'] for r in results)} incorrect")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            med, rel = spread(vals)
            medians[mode][name] = med
            bound = bounds.get(name)
            flag = "" if bound is None else (
                f"  bound {bound}  {'ok' if rel <= bound / 3 else 'WIDE'}")
            print(f"  {name:28s} median {med:14.4f}  iqr/median {rel:.4f}{flag}")
    if len(modes) == 2:
        over = medians[1]["trace.wall_s"] - medians[0]["wall_s"]
        print(f"\ntracing overhead on wall_s: {over:+.4f} s "
              f"({over / medians[0]['wall_s']:+.1%})")


if __name__ == "__main__":
    main()
