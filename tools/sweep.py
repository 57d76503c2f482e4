#!/usr/bin/env python
"""Full-registry timing sweep: every registered query, single pass, noop
sink, at $SPARK_GRAFT_SF_DIR (default sf0.01).  Prints one line per query
and a sorted top-30 summary."""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from safeascent_spark.session import get_spark
    import __spark_entry__ as entry
    spark = get_spark("sweep")
    qs = entry.queries()
    out, errs = {}, {}
    for name in sorted(qs):
        t0 = time.perf_counter()
        try:
            qs[name](spark, SF).write.format("noop").mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 2)
        except Exception as e:  # noqa: BLE001
            errs[name] = repr(e)[:200]
        print(f"{name}: {out.get(name, 'ERR')}", flush=True)
    top = sorted(out.items(), key=lambda kv: -kv[1])[:30]
    print("TOP30 " + json.dumps(dict(top)))
    print(f"TOTAL {round(sum(out.values()), 1)}s over {len(out)} queries, "
          f"{len(errs)} errors")
    if errs:
        print("ERRORS " + json.dumps(errs))
    spark.stop()


if __name__ == "__main__":
    main()
