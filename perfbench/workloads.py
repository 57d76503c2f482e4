"""The benchmark's workloads: ``serve`` and ``refresh``.

Both drive the engine only through its public functions
(``__spark_entry__.queries()`` / ``oracle_sql()``, ``domain``,
``operators.scoring``, ``streaming.refresh`` and ``txlog``) and run one
closed-loop client: each operation starts when the previous one returns.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import tracing as tr

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The serve mix: five bench.HEADLINE queries bound by fixed per-query
# cost (builder, planning, scheduling) rather than by data.  Between them
# they cover a Python-worker path that runs on every pass (semantic dedup)
# and the text, events and TPC-H families.  The scoring family and the
# session-memoized dimensions are measured by ``refresh``, which scores and
# writes.  The mix is a subset so a run, warm-up included, stays under a
# minute.
SERVE_QUERIES = [
    "dedup_semantic", "events_rolling_distinct", "tpch_q21_lone_late_supplier",
    "text_vocab_novelty", "tpch_q2_mincost",
]
# serve: timed warm passes, at least
MIN_PASSES = 2
# refresh: weather buckets per round, and point lookups per round: the
# first WARMUP_LOOKUPS are checked but not timed
ROUND_BUCKETS = 5
WARMUP_LOOKUPS = 5
LOOKUPS_PER_ROUND = 20

ZERO_LAYERS = {
    "streaming.batches": 0, "streaming.batch_s": 0.0,
    "streaming.input_rows": 0, "txlog.commit_s": 0.0,
    "txlog.commit_retries": 0, "txlog.files_live": 0,
    "txlog.bytes_written": 0, "txlog.lookup_files_opened": 0,
    "txlog.lookup_prune_frac": 0.0, "txlog.compact_s": 0.0,
    "txlog.vacuum_s": 0.0, "pyworker.udf_s": 0.0,
}


class Result:
    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.pinned: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.first: dict[str, float] = {}
        self.finish_trace = lambda log_dir, app_id: {}

    def op(self, fn):
        """Run one operation; a raised error counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted, reported, and the run goes on
            self.fail(f"{type(e).__name__}: {str(e)[:200]}")
            return None

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)

    def latency(self, lat: list[float]) -> None:
        self.metrics["latency_p50_s"] = statistics.median(lat)
        self.metrics["latency_p80_s"] = statistics.quantiles(
            lat, n=5, method="inclusive")[3]
        self.samples["latency"] = len(lat)


def keep_going(t0: float, seconds: float, deadline: float) -> bool:
    now = time.perf_counter()
    return now - t0 < seconds and now < deadline


def pinned_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@functools.cache
def _exact_check():
    """tools/exact_check.py's row normalisation and sort key."""
    path = Path(os.getcwd()) / "tools" / "exact_check.py"
    spec = importlib.util.spec_from_file_location("exact_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_rows(sf: str, names: list[str], cache_dir: Path) -> dict:
    """Each query's DuckDB oracle result, normalised and sorted as
    tools/exact_check.py does: ``{name: (sorted columns, rows)}``.  Cached
    per dataset and oracle text, so only the first run in a checkout pays."""
    import duckdb
    import __spark_entry__ as entry
    ex = _exact_check()
    sqls = {n: entry.oracle_sql()[n] for n in names}
    digest = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()
    path = cache_dir / f"oracle-{digest[:16]}.pkl"
    if path.exists():
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    out = {}
    for name, sql in sqls.items():
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        idx = [ocols.index(c) for c in sorted(ocols)]
        out[name] = (sorted(ocols), sorted(
            (tuple(ex._norm(r[i]) for i in idx) for r in cur.fetchall()),
            key=ex._key))
    con.close()
    tmp = path.with_suffix(f".tmp-{os.getpid()}")
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


def collect(df) -> tuple[list[str], list]:
    """A query's rows, columns in name order, as the client receives them."""
    cols = sorted(df.columns)
    return cols, df.select(*cols).collect()


def normalised(got: tuple[list[str], list]) -> tuple[list[str], list]:
    """Collected rows normalised and sorted as tools/exact_check.py
    compares them."""
    ex = _exact_check()
    cols, rows = got
    return cols, sorted((tuple(ex._norm(v) for v in r) for r in rows),
                        key=ex._key)


class Phases:
    """Build / plan / execute timing of one query under separate job groups."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans = tr.Spans()

    def run(self, build, label: str, sink):
        """Build, plan and execute one query; returns ``sink(df)``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"b:{label}", "build")
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        sc.setJobGroup(f"p:{label}", "plan")
        plan = tr.plan_seconds(df)
        t2 = time.perf_counter()
        sc.setJobGroup(f"x:{label}", "exec")
        out = sink(df)
        t3 = time.perf_counter()
        sc.setJobGroup("", "")
        self.spans.add(f"build:{label}", t1 - t0)
        self.spans.add(f"plan:{label}", plan)
        self.spans.add(f"exec:{label}", t3 - t2)
        return out


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def serve(spark, sf: str, work: Path, rng, seconds: float, trace: bool,
          deadline: float) -> Result:
    """Analytics queries on one session: a first pass in the fresh session,
    an untimed warm-up pass, then seeded permutations of the mix, pass after
    pass, for ``seconds`` and at least ``MIN_PASSES`` passes."""
    import __spark_entry__ as entry
    import bench
    queries = entry.queries()
    names = [n for n in bench.HEADLINE if n in SERVE_QUERIES and n in queries]
    res = Result()
    ph = Phases(spark) if trace else None
    prof = tr.PyProfile(spark, str(work)) if trace else None

    def timed(name: str, label: str, sink=_drain) -> float:
        build = lambda: queries[name](spark, sf)
        t0 = time.perf_counter()
        out = ph.run(build, label, sink) if ph else sink(build())
        if sink is not _drain:
            got[name] = out
        return time.perf_counter() - t0

    # the first pass runs in HEADLINE order, so the same query pays the
    # session's one-off costs in every run; it returns every result to the
    # client, and those rows are what the output check compares
    got: dict[str, tuple] = {}
    order = list(names)
    t0 = time.perf_counter()
    for n in order:
        res.first[n] = res.op(lambda: timed(n, "first", collect))
    res.metrics["first_pass_s"] = time.perf_counter() - t0
    res.pinned.append(pinned_rdds(spark))
    # one untimed warm pass: the JIT compiles most of the query paths here,
    # which otherwise lands in the first timed pass and varies from run to run
    rng.shuffle(order)
    for n in order:
        res.op(lambda: timed(n, "warmup"))
    res.pinned.append(pinned_rdds(spark))
    if prof:
        prof.take_seconds()

    lat: list[float] = []
    pass_s: list[float] = []
    w0 = time.time()
    t0 = time.perf_counter()
    while len(pass_s) < MIN_PASSES or keep_going(t0, seconds, deadline):
        p0 = time.perf_counter()
        rng.shuffle(order)
        for n in order:
            dt = res.op(lambda: timed(n, "warm"))
            if dt is not None:
                lat.append(dt)
        pass_s.append(time.perf_counter() - p0)
        res.pinned.append(pinned_rdds(spark))
    passes = len(pass_s)
    wall = statistics.median(pass_s)
    w1 = time.time()
    res.metrics["wall_s"] = wall
    res.latency(lat)
    res.samples["passes"] = passes
    # serve writes no table: nothing is amplified
    res.metrics["write_amp"] = res.metrics["space_amp"] = 1.0

    if trace:
        cores = spark.sparkContext.defaultParallelism
        udf_s = prof.take_seconds() / passes
        pinned = res.pinned[-1]
        growth = res.pinned[-1] - res.pinned[0]
        sp = ph.spans

        def finish(log_dir, app_id):
            log = tr.parse_event_log(tr.find_event_log(str(log_dir), app_id))
            in_window = lambda j: w0 * 1000 <= j["t"] <= w1 * 1000
            out = dict(ZERO_LAYERS)
            out.update(tr.exec_metrics(
                log, lambda j: in_window(j) and not j["group"].startswith("b:"),
                sp.total("exec:warm"), cores, passes))
            out.update({
                "entry.build_s": sp.total("build:warm") / passes,
                "entry.build_jobs": sum(
                    1 for j in log["jobs"].values()
                    if in_window(j) and j["group"] == "b:warm") / passes,
                "catalyst.plan_s": sp.total("plan:warm") / passes,
                "domain.first_touch_s": max(
                    0.0, sp.total("build:first") - sp.total("build:warm") / passes),
                "domain.pinned_rdds": pinned,
                "domain.pinned_growth": growth,
                "pyworker.udf_s": udf_s,
                "trace.wall_s": wall,
            })
            return out
        res.finish_trace = finish

    expected = oracle_rows(sf, names, work.parent)
    for n in got:  # a query that raised is already counted as failed
        res.attempted += 1
        if normalised(got[n]) != expected[n]:
            res.fail(f"{n}: differs from its oracle")
    return res


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def _live_files(txlog, root: str) -> list[str]:
    m = txlog.read_manifest(root)
    return [e["path"] for es in m["partitions"].values() for e in es]


def _drop_zone(sf: str, events, buckets: list[int], n_buckets: int,
               out: Path) -> None:
    """One refresh input: the events of weather ``buckets`` plus links to
    every other table, laid out like an input directory of the engine."""
    out.mkdir(parents=True)
    bucket = events["user_id"].to_numpy() % n_buckets
    pq.write_table(events.filter(np.isin(bucket, buckets)),
                   out / "events.parquet")
    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(sf, f"{t}.parquet"), out / f"{t}.parquet")


def refresh(spark, sf: str, work: Path, rng, seconds: float, trace: bool,
            deadline: float) -> Result:
    """Writes beside reads on the versioned score table: one full-partition
    commit in the fresh session, then seeded rounds of streamed incremental
    re-scoring + MERGE, point lookups and a partition scan; compaction and
    vacuum at the end."""
    from safeascent_spark import domain, txlog
    from safeascent_spark.operators import scoring
    from safeascent_spark.streaming import refresh as stream_refresh

    res = Result()
    root = str(work / "scores")
    part = domain.PRED_DATE
    spans = tr.Spans()
    progress: list[dict] = []
    ph = Phases(spark) if trace else None
    prof = tr.PyProfile(spark, str(work)) if trace else None
    if trace:
        for name in ("commit_overwrite_partition", "merge_scores"):
            tr.wrap_module(txlog, name, spans, "txlog.commit")
        tr.count_lost_publishes(txlog, spans)
        tr.streaming_listener(spark, progress)

    # the timed part is the refresh job: the full commit, then the rounds
    job0 = time.perf_counter()
    scores = res.op(lambda: scoring.risk_scores_df(spark, sf))
    first_touch_s = time.perf_counter() - job0
    res.op(lambda: txlog.commit_overwrite_partition(
        scores, root, part, bloom_key=True))
    res.metrics["first_pass_s"] = time.perf_counter() - job0
    commits = 1
    res.pinned.append(pinned_rdds(spark))
    if prof:
        prof.take_seconds()
    spans.times.pop("txlog.commit", None)

    events = pq.read_table(os.path.join(sf, "events.parquet"))
    route_ids = pq.read_table(os.path.join(sf, "customer.parquet"),
                              columns=["c_custkey"]).column(0).to_pylist()
    n_routes = len(route_ids)

    data_dir = Path(root) / "data"
    live_bytes = lambda: sum((Path(root) / p).stat().st_size
                             for p in _live_files(txlog, root))

    def opened_and_rows(df):
        opened = len(df.inputFiles())
        live = len(_live_files(txlog, root))
        spans.add("lookup.files", opened)
        spans.add("lookup.prune", 1.0 - opened / live if live else 0.0)
        return df.collect()

    def lookup(key: int) -> float:
        """One point lookup, checked; returns its seconds."""
        build = lambda: txlog.read_snapshot(spark, root, key_eq=key)
        t = time.perf_counter()
        if ph:
            rows = ph.run(build, "round", opened_and_rows)
        else:
            rows = build().collect()
        dt = time.perf_counter() - t
        if len(rows) != 1:
            res.fail(f"lookup {key}: {len(rows)} rows")
        return dt

    def scan() -> float:
        t = time.perf_counter()
        build = lambda: txlog.read_snapshot(spark, root, partition=part)
        if ph:
            ph.run(build, "round", _drain)
        else:
            _drain(build())
        return time.perf_counter() - t

    lat: list[float] = []
    merges: list[float] = []
    scans: list[float] = []
    round_s: list[float] = []
    wrote: list[float] = []
    space_amp = 0.0
    on_disk = _dir_bytes(data_dir)
    rounds = 0
    w0 = time.time()
    while not round_s or keep_going(job0, seconds, deadline):
        r0 = time.perf_counter()
        drop = work / "drop" / f"r{rounds}"
        _drop_zone(sf, events, rng.sample(range(domain.N_WBUCKETS), ROUND_BUCKETS),
                   domain.N_WBUCKETS, drop)
        # each round is one availableNow pass over its own drop zone; the
        # stream checkpoint records source paths, so it starts empty
        shutil.rmtree(root + "_ckpt", ignore_errors=True)
        m0 = time.perf_counter()
        n = res.op(lambda: stream_refresh.run_incremental_scores(
            spark, str(drop), root))
        merges.append(time.perf_counter() - m0)
        commits += n or 0
        keys = rng.sample(route_ids, WARMUP_LOOKUPS + LOOKUPS_PER_ROUND)
        for i, key in enumerate(keys):
            dt = res.op(lambda: lookup(key))
            if dt is not None and i >= WARMUP_LOOKUPS:
                lat.append(dt)
        dt = res.op(scan)
        if dt is not None:
            scans.append(dt)
        rounds += 1
        round_s.append(time.perf_counter() - r0)
        res.pinned.append(pinned_rdds(spark))
        # nothing is deleted before vacuum, so the bytes the table gained
        # are the bytes this round's MERGEs wrote
        before, on_disk = on_disk, _dir_bytes(data_dir)
        live = live_bytes()
        wrote.append((on_disk - before) / live)
        if rounds == 1:
            job_s = r0 + round_s[0] - job0
            space_amp = on_disk / live
    # wall_s: the full commit and the first round, a fixed amount of work.
    # A round alone is one cold streaming pass, and its time moved by a
    # quarter or more between identical runs.
    wall = job_s
    w1 = time.time()
    res.metrics["wall_s"] = wall
    res.metrics["round_p50_s"] = statistics.median(round_s)
    res.latency(lat)
    res.metrics["merge_p50_s"] = statistics.median(merges)
    res.metrics["scan_p50_s"] = statistics.median(scans)
    res.samples.update(rounds=rounds, merges=len(merges), scans=len(scans))
    # writes: bytes one round writes per live byte; space: bytes on disk
    # per live byte after the full commit and one round, before any
    # maintenance.  Both are taken at a fixed amount of work, so they do
    # not grow with the number of rounds that fit in a run.
    res.metrics["write_amp"] = statistics.median(wrote)
    res.metrics["space_amp"] = space_amp
    udf_s = prof.take_seconds() / rounds if prof else 0.0
    # the MERGE commits of the rounds, before compaction adds its own
    merge_commits = list(spans.times.get("txlog.commit", []))

    t = time.perf_counter()
    res.op(lambda: txlog.compact(spark, root, part))
    compact_s = time.perf_counter() - t
    commits += 1
    written = _dir_bytes(data_dir)
    t = time.perf_counter()
    res.op(lambda: txlog.vacuum(root, keep_versions=1, grace_seconds=0))
    vacuum_s = time.perf_counter() - t
    files_live = len(_live_files(txlog, root))

    # output check: one row per route, one version per commit
    n_rows = res.op(lambda: txlog.read_snapshot(spark, root, partition=part).count())
    if n_rows != n_routes:
        res.fail(f"snapshot has {n_rows} rows, expected {n_routes}")
    res.attempted += 1
    if txlog.current_version(root) != commits:
        res.fail(f"version {txlog.current_version(root)} after {commits} commits")

    if trace:
        cores = spark.sparkContext.defaultParallelism
        pinned = res.pinned[-1]
        growth = res.pinned[-1] - res.pinned[0]
        sp = ph.spans

        def finish(log_dir, app_id):
            log = tr.parse_event_log(tr.find_event_log(str(log_dir), app_id))
            in_window = lambda j: w0 * 1000 <= j["t"] <= w1 * 1000
            out = tr.exec_metrics(
                log, lambda j: in_window(j) and not j["group"].startswith("b:"),
                sum(merges) + sp.total("exec:round"), cores, rounds)
            batches = [p for p in progress if p["rows"] > 0]
            out.update({
                "entry.build_s": sp.total("build:round") / rounds,
                "entry.build_jobs": sum(
                    1 for j in log["jobs"].values()
                    if in_window(j) and j["group"] == "b:round") / rounds,
                "catalyst.plan_s": sp.total("plan:round") / rounds,
                "domain.first_touch_s": first_touch_s,
                "domain.pinned_rdds": pinned,
                "domain.pinned_growth": growth,
                "pyworker.udf_s": udf_s,
                "streaming.batches": len(batches) / rounds,
                "streaming.batch_s": statistics.median(
                    [p["ms"] / 1000.0 for p in batches]) if batches else 0.0,
                "streaming.input_rows": sum(p["rows"] for p in batches) / rounds,
                "txlog.commit_s": statistics.median(merge_commits)
                if merge_commits else 0.0,
                "txlog.commit_retries": spans.counts["txlog.commit_retries"],
                "txlog.files_live": files_live,
                "txlog.bytes_written": written,
                "txlog.lookup_files_opened": spans.median("lookup.files"),
                "txlog.lookup_prune_frac": spans.median("lookup.prune"),
                "txlog.compact_s": compact_s,
                "txlog.vacuum_s": vacuum_s,
                "trace.wall_s": wall,
            })
            return out
        res.finish_trace = finish
    return res


WORKLOADS = {"serve": serve, "refresh": refresh}
