"""Derive an sf1-scale benchmark dataset from the driver's sf0.1 tables.

The driver only materializes sf0.001 / sf0.01 / sf0.1
(/root/testdata, read-only).  VERDICT_r2 item 5 asks for scale-up bench
evidence at sf1 (~6 M lineitem rows, ~150 M cross-join pairs), so this
script builds it DETERMINISTICALLY from the driver's own sf0.1 parquet:
ten key-shifted copies of every fact table, with the tiny dims
(region/nation) shared.

Key-shift design: every derived domain attribute in
``safeascent_spark.domain`` comes from a key modulus —
``% 7`` (route type), ``% 6`` (grade, tags), ``% 4`` (severity),
``% 200`` (N_LOCATIONS), ``% 100`` (N_WBUCKETS).  lcm(7,6,4,200,100)
= 4200, so per-copy offsets are rounded up to a multiple of 4200: each
copy is then *structurally identical* to sf0.1 (same attribute mix, same
join fan-out, same skew profile) with disjoint key ranges — a clean
"10x the data, same distributions" stress.  Foreign keys shift by the
same family offset as their parent so join cardinality scales exactly
10x (and cross-join pair count 100x).

Usage:  python tools/make_sf1.py [out_dir]   (default .testdata_sf1/,
gitignored).  Then:  SPARK_GRAFT_SF_DIR=$PWD/.testdata_sf1 python bench.py
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from safeascent_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
N_COPIES = 10
MOD_LCM = 4200  # lcm of every key-modulus used by domain.py derivations

# table -> {column: key_family}; families shared across tables shift together
KEY_COLS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "evt", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
SHARED_DIMS = ["region", "nation"]
# output file count per table: keep files splittable-sized and >1 so the
# scan parallelizes without relying on fan_out's repartition
OUT_FILES = {"lineitem": 16, "orders": 8, "events": 8, "customer": 4,
             "part": 4, "documents": 2, "embeddings": 2, "supplier": 1}


def family_offsets(spark: SparkSession) -> dict[str, int]:
    """Per key family: max value over every column in the family, rounded up
    to the next multiple of MOD_LCM — the per-copy shift."""
    maxes: dict[str, int] = {}
    for table, cols in KEY_COLS.items():
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        row = df.agg(*[F.max(c).alias(c) for c in cols]).first()
        for c, fam in cols.items():
            maxes[fam] = max(maxes.get(fam, 0), int(row[c]))
    return {fam: ((mx // MOD_LCM) + 1) * MOD_LCM for fam, mx in maxes.items()}


def main(out_dir: str) -> None:
    spark = get_spark("make_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    offs = family_offsets(spark)
    print("family offsets:", offs)

    for t in SHARED_DIMS:
        spark.read.parquet(f"{SRC}/{t}.parquet").coalesce(1) \
            .write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")

    copies = spark.range(N_COPIES).select(F.col("id").cast("int").alias("_i"))
    for t, cols in KEY_COLS.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        out = df.crossJoin(F.broadcast(copies))
        for c, fam in cols.items():
            out = out.withColumn(
                c, (F.col(c) + F.col("_i").cast("long") * F.lit(offs[fam])).cast(df.schema[c].dataType))
        out = out.drop("_i").repartition(OUT_FILES.get(t, 2))
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: {spark.read.parquet(f'{out_dir}/{t}.parquet').count()} rows")

    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      ".testdata_sf1"))
