#!/usr/bin/env python
"""Dual-SF bit-exact gate — the committed-artifact form of the round-9
cross-SF audit (VERDICT r9 item 2).

Runs the SAME bit-exact Spark-vs-DuckDB compare as ``exact_check.py``
for each named query at BOTH scale factors (sf0.01 — the driver-hash
bar — and sf0.1 — where the r9 audit caught overflow / calibration /
saturation defects invisible at the small SF), and MERGES the results
into ``CROSSSF_r{round}.json`` at the repo root.  The merge is
incremental so each wave appends its rows under the same round file;
``tests/test_crosssf_gate.py`` machine-checks that every query
registered from round 10 on has a passing row at both SFs — making the
standing invariant "every new wave gates at BOTH SFs before
registration" a trace, not a prose claim.

Usage:
    PYSPARK_SUBMIT_ARGS="--driver-memory 24g pyspark-shell" \\
        python tools/crosssf_check.py <round> name [name ...]

(The driver-memory override matters at sf0.1: collects of ~15M-row
results OOM the 1g default — the r9 audit's operational lesson.)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SFS = {"sf0.01": "/root/testdata/sf0.01", "sf0.1": "/root/testdata/sf0.1"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    import decimal
    if v is None:
        return None
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _key(row):
    return tuple((v is None, str(type(v).__name__), v if v is not None else 0)
                 for v in row)


def check_at(spark, names: list, sf_dir: str) -> dict:
    """Bit-exact compare for each name at one SF — same bar as
    exact_check.py (sorted columns, sorted rows, EXACT equality after
    the queries' own rounding)."""
    import duckdb
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    queries, oracles = entry.queries(), entry.oracle_sql()
    out: dict = {}
    for name in names:
        try:
            sdf = queries[name](spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = sorted((tuple(_norm(v) for v in r)
                            for r in sdf.select(*cols).collect()), key=_key)
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            idx = [ocols.index(c) for c in sorted(ocols)]
            orows = sorted((tuple(_norm(r[i]) for i in idx)
                            for r in cur.fetchall()), key=_key)
            if sorted(ocols) != cols:
                out[name] = {"exact": False, "rows": len(srows),
                             "err": f"schema {cols} vs {sorted(ocols)}"}
            elif len(srows) != len(orows):
                out[name] = {"exact": False, "rows": len(srows),
                             "err": f"rows {len(srows)} vs {len(orows)}"}
            else:
                bad = sum(1 for a, b in zip(srows, orows) if a != b)
                out[name] = {"exact": bad == 0, "rows": len(srows),
                             "err": None if bad == 0
                             else f"{bad}/{len(srows)} rows differ"}
        except Exception as exc:  # noqa: BLE001 — recorded, not hidden
            out[name] = {"exact": False, "rows": None,
                         "err": f"{type(exc).__name__}: {exc}"[:300]}
        tag = "OK  " if out[name]["exact"] else "FAIL"
        print(f"{tag} {sf_dir.rsplit('/', 1)[-1]} {name}: "
              f"{out[name]['rows']} rows "
              f"{'' if out[name]['exact'] else out[name]['err']}")
    con.close()
    return out


def main() -> None:
    rnd = int(sys.argv[1])
    names = sys.argv[2:]
    assert names, "usage: crosssf_check.py <round> name [name ...]"
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    path = REPO / f"CROSSSF_r{rnd:02d}.json"
    merged = json.loads(path.read_text()) if path.exists() else {}
    ok = True
    for sf_key, sf_dir in SFS.items():
        got = check_at(spark, names, sf_dir)
        merged.setdefault(sf_key, {}).update(got)
        ok &= all(v["exact"] for v in got.values())
    path.write_text(json.dumps(merged, indent=2, sort_keys=True) + "\n")
    print(f"wrote {path.name}: "
          + ", ".join(f"{k}={sum(v['exact'] for v in merged[k].values())}"
                      f"/{len(merged[k])}" for k in merged))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
