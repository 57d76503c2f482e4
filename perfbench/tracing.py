"""Per-layer tracing, taken from outside the engine.

Everything here reads Spark's own surfaces or wraps the engine's public
module functions from the benchmark side; no engine file is modified.

* builder / Catalyst / execution split: the benchmark times the query
  builder call, forces planning through ``queryExecution().executedPlan()``
  and reads the phase tracker, then times the drain to the noop sink.  Each
  step runs under its own Spark job group so jobs launched while building
  are told apart from execution jobs.
* scheduler and executor counters: parsed in pure Python from the local
  event log (``spark.eventLog.dir``) after the session stops.
* Python workers: Spark's session profiler (``spark.profile``) in ``perf``
  mode, dumped and summed per phase.
* streaming: a ``StreamingQueryListener`` collecting query progress.
* txlog: module-level wrappers around the public commit/compact/vacuum
  calls and around the publish step, which counts lost commit races.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
from collections import defaultdict


class Spans:
    """Named durations and counters recorded by the benchmark."""

    def __init__(self) -> None:
        self.times: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, int] = defaultdict(int)

    def add(self, name: str, seconds: float) -> None:
        self.times[name].append(seconds)

    def total(self, name: str) -> float:
        return sum(self.times.get(name, ()))

    def median(self, name: str) -> float:
        vals = self.times.get(name)
        return statistics.median(vals) if vals else 0.0


def wrap_module(mod, name: str, spans: Spans, span: str) -> None:
    """Replace ``mod.name`` with a wrapper that records its duration as
    ``span``."""
    orig = getattr(mod, name)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            spans.add(span, time.perf_counter() - t0)

    setattr(mod, name, timed)


def count_lost_publishes(txlog, spans: Spans) -> None:
    """Count optimistic-commit publishes that lost the version race."""
    orig = txlog._publish

    def publish(root, manifest):
        ok = orig(root, manifest)
        if not ok:
            spans.counts["txlog.commit_retries"] += 1
        return ok

    txlog._publish = publish


def plan_seconds(df) -> float:
    """Force physical planning of ``df`` and return the Catalyst phase time
    (analysis + optimization + planning) from its QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    it = phases.valuesIterator()
    while it.hasNext():
        total_ms += it.next().durationMs()
    return total_ms / 1000.0


class PyProfile:
    """Python-worker time from Spark's session UDF profiler."""

    def __init__(self, spark, dump_dir: str) -> None:
        self.spark = spark
        self.dump_dir = dump_dir
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def take_seconds(self) -> float:
        """Seconds profiled since the last call, then reset."""
        out = os.path.join(self.dump_dir, f"prof-{time.monotonic_ns()}")
        self.spark.profile.dump(out, type="perf")
        self.spark.profile.clear(type="perf")
        total = 0.0
        for path in glob.glob(os.path.join(out, "*.pstats")):
            total += pstats.Stats(path).total_tt
        return total


def streaming_listener(spark, sink: list):
    """Register a listener appending each query progress to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({"rows": int(p.numInputRows),
                         "ms": int(p.batchDuration)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


_NO_JOB = {"group": "", "t": 0}


def parse_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from one application's event log.

    Returns ``{"jobs": {job_id: {"group", "t"}}, "stages": [...],
    "tasks": [...]}`` where ``t`` is the job's submission time (epoch ms)
    and each stage and task carries the job that ran it.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job = {"group": group, "t": ev.get("Submission Time", 0)}
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                start = info.get("Submission Time") or 0
                end = info.get("Completion Time") or start
                stages[(sid, info.get("Stage Attempt ID", 0))] = {
                    "job": stage_job.get(sid, _NO_JOB),
                    "tasks": info.get("Number of Tasks", 0),
                    "s": (end - start) / 1000.0}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "job": stage_job.get(ev.get("Stage ID"), _NO_JOB),
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0)
                    + m.get("Memory Bytes Spilled", 0)})
    return {"jobs": jobs, "stages": list(stages.values()), "tasks": tasks}


def find_event_log(log_dir: str, app_id: str) -> str:
    """The finished, uncompressed, single-file log of application ``app_id``."""
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    return path


def exec_metrics(log: dict, keep, exec_s: float, cores: int,
                 units: int) -> dict:
    """Scheduler and executor metrics over the jobs ``keep`` accepts,
    averaged per unit of work (a pass or a round)."""
    jobs = [j for j in log["jobs"].values() if keep(j)]
    stages = [s for s in log["stages"] if keep(s["job"])]
    tasks = [t for t in log["tasks"] if keep(t["job"])]
    run_s = sum(t["run_s"] for t in tasks)
    n_tasks = len(tasks)
    per = max(1, units)
    return {
        "exec.s": exec_s / per,
        "exec.jobs": len(jobs) / per,
        "exec.stages": len(stages) / per,
        "exec.tasks": n_tasks / per,
        "exec.tasks_per_stage": n_tasks / len(stages) if stages else 0.0,
        "exec.task_run_s": run_s / per,
        "exec.core_busy_frac": run_s / (exec_s * cores) if exec_s > 0 else 0.0,
        "exec.top_stage_s": max((s["s"] for s in stages), default=0.0),
        "exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / per,
        "exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / per,
        "exec.spill_bytes": sum(t["spill"] for t in tasks) / per,
        "exec.gc_s": sum(t["gc_s"] for t in tasks) / per,
    }
