"""Plan probes: the PRE-checkpoint plans of checkpoint-returning queries.

VERDICT r11 "missing" #3: a query that returns a ``localCheckpoint``'ed
frame hides its real pipeline from the plan-snapshot gate — the committed
``docs/plan_<name>.txt`` shows a short scan of the materialized result,
so the no-cartesian / broadcast invariants in ``tests/test_plans.py``
never see the write/upsert/read or corpus-aggregate plans that actually
execute.  The isotonic CartesianProduct near-miss (a checkpointed frame
carries no size statistics, so bounded non-equi joins plan as
CartesianProduct unless explicitly hinted) proved the blind spot bites.

Each probe is a context manager yielding the pre-checkpoint DataFrame of
one such internal pipeline.  Every ``domain.checkpointed`` builder is a
probe under its checkpoint name, so a new boundary is audited without
being listed here; only the three sink probes, which create (and on exit
remove) the scratch directory their writes need, are written out.
``tools/plan_snapshot.py --probes`` writes ``docs/probe_<name>.txt``
snapshots, and ``tests/test_plans.py`` runs the cartesian/broadcast
invariants over the LIVE probe plans.
"""

from __future__ import annotations

import contextlib
import importlib
import pkgutil
import shutil
from typing import Callable, ContextManager, Iterator

from pyspark.sql import DataFrame, SparkSession

from . import domain, operators, sinks


def _plain(builder) -> Callable[[SparkSession, str], ContextManager]:
    @contextlib.contextmanager
    def probe(spark: SparkSession, sf_dir: str) -> Iterator[DataFrame]:
        yield builder(spark, sf_dir)
    return probe


@contextlib.contextmanager
def _s8_probe(spark: SparkSession, sf_dir: str) -> Iterator[DataFrame]:
    tmp = sinks._sink_scratch_dir(spark, "probe_s8_")
    try:
        yield sinks._s8_serving_pipeline(spark, sf_dir, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextlib.contextmanager
def _s9_probe(spark: SparkSession, sf_dir: str) -> Iterator[DataFrame]:
    tmp = sinks._sink_scratch_dir(spark, "probe_s9_")
    try:
        yield sinks._s9_survivor_pipeline(spark, sf_dir, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextlib.contextmanager
def _compaction_probe(spark: SparkSession,
                      sf_dir: str) -> Iterator[DataFrame]:
    tmp = sinks._sink_scratch_dir(spark, "probe_s10c_")
    try:
        yield sinks._compaction_before_frame(spark, sf_dir, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def all_probes() -> dict[str, Callable[[SparkSession, str], ContextManager]]:
    """name -> context-manager factory yielding the pre-checkpoint frame.

    Keys name the INTERNAL pipeline, not the owning query: one query may
    hide several checkpoint boundaries, and several queries may share
    one memoized upstream (the phash family shares the hash frame)."""
    for m in pkgutil.iter_modules(operators.__path__):
        importlib.import_module(f"{operators.__name__}.{m.name}")
    probes = {name: _plain(build)
              for name, build in domain.CHECKPOINTS.items()}
    probes.update(s8_serving_pipeline=_s8_probe,
                  s9_survivor_pipeline=_s9_probe,
                  compaction_before_frame=_compaction_probe)
    return probes
