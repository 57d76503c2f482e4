"""Write docs/plan_<name>.txt formatted-plan snapshots for named queries.

Usage: python tools/plan_snapshot.py <query-name> [<query-name> ...]
       python tools/plan_snapshot.py --probes [<probe-name> ...]

Snapshots are the review artifact the plan-pin tests in tests/test_plans.py
reference: regenerate one whenever a query's plan intentionally changes, and
read the diff — an unintentional Exchange/Sort/NestedLoop appearing in the
diff is the regression the snapshot exists to catch.

``--probes`` writes docs/probe_<name>.txt for the PRE-checkpoint internal
pipelines in safeascent_spark.planprobes.all_probes() (all of them when no
names are given): every ``domain.checkpointed`` builder under its
checkpoint name, plus the three scratch-dir sink probes — the plans a
checkpoint-returning query hides from its own docs/plan_<name>.txt
snapshot (VERDICT r11 item 3).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def _session():
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "8")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _write(prefix: str, name: str, plan: str) -> None:
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", f"{prefix}_{name}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({plan.count(chr(10))} lines)")


def main(names: list[str]) -> None:
    import __spark_entry__ as entry

    spark = _session()
    qs = entry.queries()
    for name in names:
        _write("plan", name, _explain(qs[name](spark, SF)))


def main_probes(names: list[str]) -> None:
    from safeascent_spark import planprobes

    spark = _session()
    probes = planprobes.all_probes()
    for name in names or sorted(probes):
        with probes[name](spark, SF) as df:
            _write("probe", name, _explain(df))


if __name__ == "__main__":
    if sys.argv[1:2] == ["--probes"]:
        main_probes(sys.argv[2:])
    else:
        main(sys.argv[1:])
