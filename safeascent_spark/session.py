"""SparkSession factory for local runs: ``local[n]`` with n shuffle
partitions, n = the CPUs this process may run on (``SPARK_GRAFT_CPUS``
overrides).

At cluster scale the same code runs unchanged — only master/memory change;
AQE handles runtime re-planning (partition coalescing, skew joins).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Driver heap for a local session: 16g, but never more than half the
    machine's physical memory.

    In local mode the driver JVM is also the executor, and G1 grows the
    committed heap toward its maximum rather than collecting sooner.  With
    a maximum above physical memory the process keeps growing until the
    kernel kills it: the full test suite on a 16 GB machine took the JVM to
    14.5 GB resident and lost it mid-run.  Half leaves room for the Python
    workers and for tests that start further JVMs.  ``SPARK_DRIVER_MEMORY``
    still overrides.
    """
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


def _default_cpus() -> int:
    """Local parallelism when ``SPARK_GRAFT_CPUS`` is unset: the CPUs this
    process may run on.  A fixed ``local[32]`` on a 4-core machine ran a
    3-row frame as 32 tasks and wrote one file per non-empty task."""
    return len(os.sched_getaffinity(0))


def get_spark(app_name: str = "safeascent_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_default_cpus())
    parts = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r12 (guide §3.1): let AQE rewrite a sort-merge join to a
        # shuffled-hash join when every post-shuffle partition of the
        # build side fits under the threshold — runtime-size-checked, so
        # at cluster scale an oversized build side keeps the spillable
        # SMJ.  128m matches the "build side must fit a task's execution
        # memory" budget of the production executor sizing (guide §5).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver-generated parquet stores TIMESTAMP(NANOS,false)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY",
                                                     _default_driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
