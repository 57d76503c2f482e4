"""Versioned-manifest table format: atomic commits over plain parquet.

The reference upserts scores with ``INSERT ... ON CONFLICT DO UPDATE``
under PostgreSQL's transactional guarantees and purges dates past
retention (safety_computation_optimized.py:827-905).  This module is the
engine's one score-table format — the sink roundtrips in ``sinks.py``
write, upsert, purge and compact through it — with the catalog-table
semantics Delta Lake / Iceberg supply, reduced to their core:

* A table is ``<root>/data/*.parquet`` plus a log ``<root>/_txlog/v{N}.json``.
  Each manifest lists the EXACT data files of that snapshot (grouped by
  partition value), so readers never list directories and never see
  half-written files: files are written first under fresh unique names,
  then referenced.
* Commits are optimistic: build the next manifest against the current
  version, then publish with ``os.link(tmp, v{N+1}.json)`` — hard-link
  creation is atomic and fails with EEXIST if another writer took the
  version, in which case the commit REBASES on the new head and retries
  (bounded).  Readers always see a complete manifest or the previous one.
* Every writer publishes through the one commit loop,
  ``_retrying_commit``, and reads what it rewrites at the loop's base
  version, inside the loop: a rebased retry therefore rewrites on top of
  the winner's rows instead of clobbering them.  A build that returns
  ``{}`` is a no-op and publishes nothing.
* Old manifests stay until ``vacuum`` — which yields snapshot isolation and
  time travel for free (``read_snapshot(version=K)``).
* Manifest entries carry per-file statistics (row count, key min/max read
  from the parquet footers at commit) so ``read_snapshot(key_between=...)``
  skips files whose range is disjoint from the predicate — Iceberg-style
  data skipping without opening a single pruned file.
* Manifest entries also carry the Spark schema each file was written with,
  so a read hands Spark the schema instead of launching a job that
  re-infers it from the footers — a point lookup runs as one job.
* MERGE and DELETE rewrite nothing: each appends a LAYER to its partition
  under the next sequence number ``seq`` (the Iceberg v2 equality-delete
  rule).  A layer's keys hide the same-key rows of every lower-``seq``
  data file of the partition; a MERGE layer is the source's rows, a
  DELETE layer (tombstone) holds keys only.  Files written by an
  overwrite or a rewrite have no ``seq`` and sit at 0; ``compact`` and
  ``cluster_zorder`` fold the layers back into plain files.

Partition-grain operations rewrite only the partitions they touch.
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import domain


class CommitConflict(RuntimeError):
    """Another writer advanced the table while this commit was retried out."""


def _log_dir(root: str) -> Path:
    return Path(root) / "_txlog"


def _manifest_path(root: str, version: int) -> Path:
    return _log_dir(root) / f"v{version}.json"


def current_version(root: str) -> int:
    """Highest committed version, 0 if the table does not exist yet."""
    d = _log_dir(root)
    if not d.exists():
        return 0
    vs = [int(p.stem[1:]) for p in d.glob("v*.json")]
    return max(vs, default=0)


def read_manifest(root: str, version: int | None = None,
                  ref: str | None = None) -> dict:
    """Manifest for ``version``, a named ``ref``, or the default head.

    Default head = the ``main`` branch when refs exist (branch commits
    must not change what default readers see), else the max version —
    bit-identical to the pre-refs behavior for tables without refs."""
    if ref is not None:
        version = resolve_ref(root, ref)
    if version is None:
        if _has_refs(root):
            version = resolve_ref(root, MAIN)
        else:
            version = current_version(root)
    if version == 0:
        return {"version": 0, "partitions": {}}
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def _bloom_build(values, bits_per_key: int = 10, k: int = 7) -> dict:
    """Classic Bloom filter over a file's key values (Kirsch-Mitzenmacher
    double hashing off sha256, ~0.8% fpp at 10 bits/key, k=7), serialized
    as a hex bitset for the JSON manifest.  Keys hash via their canonical
    ``str()`` so int64 and string keys both round-trip exactly.

    Scale note: the bitset costs bits_per_key * rows / 4 hex chars per
    file (a 1M-row file -> ~2.5 MB manifest entry); production tables
    beyond that should move blooms to sidecar stats files (Iceberg's
    puffin layout) — the probe contract below is unchanged."""
    import hashlib
    m = 64
    while m < max(1, len(values)) * bits_per_key:
        m <<= 1
    # a byte array, not an int: ``int |= 1 << b`` copies all m bits per
    # set bit, which makes the build quadratic in the key count
    bits = bytearray(m // 8)
    for v in values:
        h = hashlib.sha256(str(v).encode()).digest()
        h1 = int.from_bytes(h[:8], "little")
        h2 = int.from_bytes(h[8:16], "little") | 1
        for i in range(k):
            b = (h1 + i * h2) % m
            bits[b >> 3] |= 1 << (b & 7)
    return {"m": m, "k": k,
            "bits": format(int.from_bytes(bits, "little"), "x")}


def _bloom_may_contain(bloom: dict, value) -> bool:
    import hashlib
    m, k = bloom["m"], bloom["k"]
    bits = int(bloom["bits"], 16)
    h = hashlib.sha256(str(value).encode()).digest()
    h1 = int.from_bytes(h[:8], "little")
    h2 = int.from_bytes(h[8:16], "little") | 1
    return all((bits >> ((h1 + i * h2) % m)) & 1 for i in range(k))


def _file_stats(path: Path, key: str,
                stats_cols: tuple[str, ...] = (),
                bloom_key: bool = False) -> dict:
    """Per-file stats from the parquet footer (no data read): row count and
    the key column's min/max across row groups — the Iceberg-manifest
    metadata that makes reader-side data skipping possible.  Extra
    ``stats_cols`` land under ``"cols": {name: [min, max]}`` so clustered
    layouts (``cluster_zorder``) can expose multi-column ranges."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}

    def _minmax(col: str):
        lo = hi = None
        if col not in idx:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi)

    out = {"rows": md.num_rows}
    mm = _minmax(key)
    out["min_key"], out["max_key"] = mm if mm else (None, None)
    cols = {}
    for c in stats_cols:
        mm = _minmax(c)
        if mm is not None:
            cols[c] = [mm[0], mm[1]]
    if cols:
        out["cols"] = cols
    if bloom_key and key in idx:
        # the Iceberg write-side stats pass: min/max can't prune point
        # lookups on unsorted keys — the bloom can
        out["bloom"] = _bloom_build(_file_keys(path, key))
    return out


def _file_keys(path: Path, key: str) -> set:
    """The non-null ``key`` values of one file: one single-column read on
    the driver, for a Bloom filter at commit or a layer's keys at read."""
    import pyarrow.parquet as pq
    vals = pq.read_table(path, columns=[key]).column(0).to_pylist()
    return set(vals) - {None}


def _write_data_files(df: DataFrame, root: str, key: str = "route_id",
                      stats_cols: tuple[str, ...] = (),
                      bloom_key: bool = False) -> list[dict]:
    """Materialize ``df`` under a fresh unique directory; return manifest
    entries [{path, schema, rows, min_key, max_key[, cols][, bloom]}]
    (paths relative to root, ``schema`` as ``StructType.json()``).
    Unreferenced until a manifest commit."""
    sub = f"data/{uuid.uuid4().hex}"
    out = Path(root) / sub
    df.write.mode("error").parquet(str(out))
    schema = df.schema.json()
    return sorted(
        ({"path": f"{sub}/{p.name}", "schema": schema,
          **_file_stats(p, key, stats_cols, bloom_key)}
         for p in out.iterdir() if p.name.endswith(".parquet")),
        key=lambda e: e["path"])


def _read_files(spark: SparkSession, root: str,
                entries: list[dict]) -> DataFrame:
    """The parquet files of ``entries`` as one frame.  When every entry
    records the same schema, Spark is handed that schema and skips the
    footer-inference job it would otherwise launch; entries committed
    before schemas were recorded (or of mixed schemas) are inferred."""
    paths = [str(Path(root) / e["path"]) for e in entries]
    schemas = {e.get("schema") for e in entries}
    if len(schemas) == 1 and None not in schemas:
        schema = StructType.fromJson(json.loads(schemas.pop()))
        return spark.read.schema(schema).parquet(*paths)
    return spark.read.parquet(*paths)


def _had_blooms(entries: list[dict]) -> bool:
    """Whether files written into a partition of these entries get Bloom
    filters: they do when the partition's data files carry them, so a
    rewrite keeps them and a point lookup can prune every layer."""
    return any(e.get("bloom") for e in entries if not e.get("tombstone"))


def _seq(entry: dict) -> int:
    """An entry's layer number: files of an overwrite or a rewrite are 0,
    MERGE and DELETE layers count up from 1.  Tombstones committed before
    layers were numbered hid every data file of their partition, which is
    what 1 does."""
    return entry.get("seq", 1 if entry.get("tombstone") else 0)


def _outside(key: str, keys: set):
    """Rows whose ``key`` is null or not in ``keys``.  Integer keys go to
    Spark as one SQL string of bigint literals: ``isin`` sends one py4j
    call per literal, and a 1,000-key list took 0.44 s to build."""
    vals = sorted(keys)
    if all(type(v) is int for v in vals):
        return F.expr(f"`{key}` IS NULL OR `{key}` NOT IN "
                      f"({', '.join(f'{v}L' for v in vals)})")
    return F.col(key).isNull() | ~F.col(key).isin(vals)


def _publish(root: str, manifest: dict) -> bool:
    """Atomically publish ``manifest`` as the next version via hard link.

    Returns False when the version was taken by a concurrent writer."""
    d = _log_dir(root)
    d.mkdir(parents=True, exist_ok=True)
    tmp = d / f".tmp-{uuid.uuid4().hex}.json"
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    try:
        os.link(tmp, _manifest_path(root, manifest["version"]))
        return True
    except FileExistsError:
        return False
    finally:
        tmp.unlink()


def read_snapshot(spark: SparkSession, root: str,
                  version: int | None = None,
                  partition: str | None = None,
                  key_between: tuple | None = None,
                  key: str = "route_id",
                  cols_between: dict | None = None,
                  key_eq=None,
                  ref: str | None = None) -> DataFrame:
    """Read a committed snapshot (optionally one partition / an old
    version).  Loads exactly the manifest's file list — no directory
    listing, no exposure to in-flight writers — with the schema the
    manifest recorded at commit, so no schema-inference job runs (entries
    without a recorded schema fall back to inference).  MERGE and DELETE
    layers apply as literal key filters on the older files, so a read is
    one Spark job however many layers the partition holds.

    ``key_between=(lo, hi)`` performs manifest-level data skipping: files
    whose ``key`` min/max range (captured from parquet footers at commit)
    is disjoint from [lo, hi] are never opened, and the exact filter is
    re-applied to the survivors.  Files without stats are conservatively
    kept.  ``key`` must match the column the files were committed with
    (``_write_data_files``'s key) — it is also the column of the
    single-key empty-table fallback schema, which exists only so "read an
    empty/missing table" composes; callers needing a real schema should
    check ``read_manifest`` first.

    ``cols_between={col: (lo, hi), ...}`` skips on the per-column ranges a
    clustered commit recorded (``cluster_zorder``'s ``stats_cols``): a file
    is pruned when ANY filtered column's recorded range is disjoint from
    its predicate — the conjunctive-skip rule Delta/Iceberg apply to
    ZORDER-clustered tables.  Files lacking stats for a column are
    conservatively kept, and every surviving file is re-filtered exactly.

    ``key_eq=value`` is the point-lookup form: beyond the min/max range
    check it probes each file's Bloom filter (committed with
    ``bloom_key=True``) — the pruning min/max cannot do when keys are
    hash-distributed across files.  False positives only cost an extra
    file read; the exact ``key == value`` filter is always re-applied.
    Files committed without a bloom are conservatively kept."""
    m = read_manifest(root, version, ref=ref)
    parts = m["partitions"]
    if partition is not None:
        parts = {partition: parts.get(partition, [])}
    frames = []
    for pval, entries in sorted(parts.items()):

        def _prune(fs: list[dict], by_cols: bool = True) -> list[dict]:
            if key_between is not None:
                lo, hi = key_between
                fs = [e for e in fs
                      if e.get("min_key") is None
                      or not (e["max_key"] < lo or e["min_key"] > hi)]
            if key_eq is not None:
                fs = [e for e in fs
                      if (e.get("min_key") is None
                          or e["min_key"] <= key_eq <= e["max_key"])
                      and (e.get("bloom") is None
                           or _bloom_may_contain(e["bloom"], key_eq))]
            if cols_between is not None and by_cols:
                def _survives(e: dict) -> bool:
                    for c, (lo, hi) in cols_between.items():
                        rng = e.get("cols", {}).get(c)
                        if rng is not None and (rng[1] < lo or rng[0] > hi):
                            return False
                    return True
                fs = [e for e in fs if _survives(e)]
            return fs

        files = [e for e in _prune(entries) if not e.get("tombstone")]
        # a layer whose keys cannot meet the key predicate hides no
        # surviving row, because the survivors are re-filtered exactly
        # below.  Column ranges do not prune layers: a layer's new value
        # outside the range must still hide the old value inside it
        layers = [e for e in _prune(entries, by_cols=False) if _seq(e)]
        keys: dict[str, set] = {}
        for s in sorted({_seq(e) for e in files}):
            # the keys of every higher layer hide this group's rows.  They
            # are read on the driver and applied as a literal filter, so
            # the read stays one Spark job; layer key sets are bounded by
            # the next compaction, which folds them away
            dead = set()
            for e in layers:
                if _seq(e) > s:
                    if e["path"] not in keys:
                        keys[e["path"]] = _file_keys(Path(root) / e["path"],
                                                     key)
                    dead |= keys[e["path"]]
            if key_eq is not None:
                dead &= {key_eq}
            df = _read_files(spark, root,
                             [e for e in files if _seq(e) == s])
            if dead:
                df = df.filter(_outside(key, dead))
            frames.append(df.withColumn("prediction_date", F.lit(pval)))
    if not frames:
        return domain.local_frame(spark, [], f"{key} bigint") \
            .withColumn("prediction_date", F.lit(None).cast("string"))
    out = frames[0]
    for f in frames[1:]:
        # allowMissingColumns: partitions committed before a column was
        # added read as null for it (additive schema evolution — the
        # Delta mergeSchema read semantics)
        out = out.unionByName(f, allowMissingColumns=True)
    if key_between is not None:
        out = out.filter(F.col(key).between(*key_between))
    if key_eq is not None:
        out = out.filter(F.col(key) == key_eq)
    if cols_between is not None:
        for c, (lo, hi) in cols_between.items():
            out = out.filter(F.col(c).between(lo, hi))
    return out


def _retrying_commit(root: str, build, max_retries: int = 10,
                     branch: str | None = None) -> int:
    """The optimistic-commit loop: ``build(base_manifest)`` returns the
    changed partition->files mapping; on a lost race the commit rebases on
    the new head and retries.  Partition-disjoint writers therefore both
    land.  A build that returns ``{}`` is a no-op: the base version is
    returned and nothing is published.

    An explicit ``branch`` commits onto that branch.  Once refs exist,
    default commits ARE main-branch commits (base = main head, pointer
    advances) — the version-number CAS alone would otherwise stop
    detecting same-branch conflicts, because the global allocator hands
    concurrent writers different numbers."""
    if branch is not None or _has_refs(root):
        return branch_commit(root, branch or MAIN, build, max_retries)
    for _ in range(max_retries):
        base = read_manifest(root)
        changed = build(base)
        if not changed:
            return base["version"]
        nxt = {"version": base["version"] + 1,
               "partitions": {**base["partitions"], **changed}}
        if _publish(root, nxt):
            return nxt["version"]
    raise CommitConflict(f"lost {max_retries} commit races on {root}")


def _rewrite_partition(spark: SparkSession, root: str, partition: str,
                       rewrite, key: str = "route_id",
                       stats_cols: tuple[str, ...] = ()) -> int:
    """Commit ``rewrite`` of one partition's rows; returns the version.

    Inside the commit loop, the partition's snapshot at the base version
    (layers applied) goes to ``rewrite``, and the frame it returns
    replaces the partition's files: the layers are folded away, and Bloom
    filters are kept when the replaced files had them.  ``rewrite`` gets
    ``None`` when the partition has no live files; a ``None`` result, or
    one with no rows (every row deleted), is a no-op — the unreferenced
    empty file it wrote is left to ``vacuum``, like a lost race's."""
    def build(base: dict) -> dict:
        live = [e for e in base["partitions"].get(partition, [])
                if not e.get("tombstone")]
        cur = read_snapshot(spark, root, version=base["version"],
                            partition=partition, key=key) \
            .drop("prediction_date") if live else None
        out = rewrite(cur)
        if out is None:
            return {}
        files = _write_data_files(out, root, key=key, stats_cols=stats_cols,
                                  bloom_key=_had_blooms(live))
        return {partition: files} if any(e["rows"] for e in files) else {}

    return _retrying_commit(root, build)


def _commit_layer(root: str, partition: str, layer) -> int:
    """The one commit step of MERGE and DELETE: append ``layer(base)``'s
    entries to the partition under the next sequence number.

    The number is the partition's highest ``seq`` at the base version
    plus one, computed inside the commit loop — a rebased retry therefore
    lands above the winner's layer.  (It is not the version number: a
    branch commit takes that from the global allocator only after the
    build.)  A ``None`` layer is a no-op; a layer's empty files are left
    out (a MERGE of no rows still commits a version)."""
    def build(base: dict) -> dict:
        entries = base["partitions"].get(partition, [])
        files = layer(base)
        if files is None:
            return {}
        seq = max(map(_seq, entries), default=0) + 1
        return {partition: entries + [{**e, "seq": seq}
                                      for e in files if e["rows"]]}

    return _retrying_commit(root, build)


def merge_layers(root: str, partition: str) -> int:
    """MERGE layers of ``partition`` at the head that no ``compact`` or
    ``cluster_zorder`` has folded yet."""
    entries = read_manifest(root)["partitions"].get(partition, [])
    return len({_seq(e) for e in entries if not e.get("tombstone")} - {0})


def commit_overwrite_partition(df: DataFrame, root: str,
                               partition: str,
                               bloom_key: bool = False,
                               branch: str | None = None) -> int:
    """Replace one partition's contents atomically (the nightly re-score
    unit).  Returns the committed version.  ``bloom_key=True`` additionally
    commits a per-file Bloom filter on the key column for ``read_snapshot``
    point-lookup skipping (one extra single-column read per file).
    ``branch`` commits onto that branch instead of the default head."""
    files = _write_data_files(df, root, bloom_key=bloom_key)
    return _retrying_commit(root, lambda base: {partition: files},
                            branch=branch)


def merge_scores(df: DataFrame, root: str, partition: str,
                 key: str = "route_id") -> int:
    """Row-level MERGE (the reference's ON CONFLICT DO UPDATE): source rows
    replace same-key rows of the partition, others are inserted.

    The source is written once, as it is, and committed as the
    partition's next layer: its keys hide the older rows with the same
    key, so the commit writes the micro-batch, not the partition.  A
    rebased retry commits the same files above the winner's layer.  The
    files get Bloom filters when the partition's files have them."""
    head = read_manifest(root)["partitions"].get(partition, [])
    files = _write_data_files(df, root, key=key,
                              bloom_key=_had_blooms(head))
    return _commit_layer(root, partition, lambda base: files)


def delete_where(spark: SparkSession, root: str, partition: str,
                 predicate, key: str = "route_id") -> int:
    """Row-level DELETE as a merge-on-read tombstone layer (the Iceberg
    equality-delete analog): commit a file listing the deleted keys as
    the partition's next layer instead of rewriting any data file.

    Why it matters at 100 TB: a GDPR-style delete of a handful of keys
    from a date partition otherwise rewrites the whole partition —
    O(partition); a tombstone writes O(deleted keys) and defers the
    rewrite to the next ``compact`` / ``cluster_zorder`` of that
    partition, which fold the layers away.  A later MERGE of a deleted
    key sits above the tombstone and brings the key back.  Snapshot
    semantics, time travel, ``table_changes`` (the deletes surface as
    ``delete`` change rows) and vacuum's reference tracking all compose
    unchanged; the tombstone gets a Bloom filter when the partition's
    files have them, so point lookups of other keys prune it.

    ``predicate`` is a Column or SQL string evaluated against the
    partition's snapshot at the commit's base version (a rebased retry
    re-evaluates against the winner's rows).  No-op (current version
    returned) when the partition is missing or nothing matches."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate

    def tombstone(base: dict) -> list[dict] | None:
        entries = base["partitions"].get(partition, [])
        if not [e for e in entries if not e.get("tombstone")]:
            return None
        dead = (read_snapshot(spark, root, version=base["version"],
                              partition=partition, key=key)
                .filter(pred).select(key).distinct())
        files = _write_data_files(dead, root, key=key,
                                  bloom_key=_had_blooms(entries))
        if not any(e["rows"] for e in files):
            return None  # the empty file is left to vacuum
        return [{**e, "tombstone": True} for e in files]

    return _commit_layer(root, partition, tombstone)


def vacuum(root: str, keep_versions: int = 1,
           grace_seconds: float = 600.0) -> list[str]:
    """Drop manifests older than the newest ``keep_versions`` and delete
    data files no surviving manifest references.  Returns removed files.

    Unreferenced files younger than ``grace_seconds`` (mtime) are KEPT: a
    concurrent writer materializes data files *before* publishing its
    manifest (the documented unreferenced-until-commit window, including
    a MERGE's layer and the files of rewrite retries), so a zero-grace vacuum could delete
    files whose manifest is about to publish — the Delta/Iceberg retention
    threshold exists for exactly this.  Pass
    ``grace_seconds=0`` only when the caller holds exclusive access."""
    import time
    cutoff = time.time() - grace_seconds
    head = current_version(root)
    keep = range(max(1, head - keep_versions + 1), head + 1)
    # named refs pin their versions (and those files) unconditionally: a
    # tag or a parked branch must stay readable through any vacuum
    ref_pins = {meta["version"] for meta in list_refs(root).values()}
    referenced: set[str] = set()
    for v in set(keep) | ref_pins:
        if v >= 1 and _manifest_path(root, v).exists():
            for files in read_manifest(root, v)["partitions"].values():
                referenced.update(e["path"] for e in files)
    removed, grace_kept = [], set()
    data = Path(root) / "data"
    if data.exists():
        for sub in data.iterdir():
            for p in sub.glob("*.parquet"):
                rel = str(p.relative_to(root))
                if rel not in referenced:
                    try:
                        if p.stat().st_mtime > cutoff:
                            grace_kept.add(rel)
                            continue  # inside an in-flight commit's window
                    except OSError:
                        continue  # already gone (concurrent vacuum)
                    p.unlink()
                    removed.append(rel)
            if not any(sub.iterdir()):
                sub.rmdir()
    for v in range(1, keep.start):
        if v in ref_pins:
            continue  # a ref points here — manifest must survive
        mp = _manifest_path(root, v)
        if not mp.exists():
            continue
        # keep the old manifest while the grace window protects any of its
        # files — time travel to it must stay consistent until then
        vfiles = {e["path"] for files in
                  read_manifest(root, v)["partitions"].values() for e in files}
        if vfiles & grace_kept:
            continue
        mp.unlink()
    return sorted(removed)


def compact(spark: SparkSession, root: str, partition: str,
            target_files: int = 4) -> int:
    """OPTIMIZE analog: rewrite one partition's snapshot as
    ``target_files`` files and commit the swap atomically.

    Readers are never disturbed — they hold whichever manifest version they
    opened (old files persist until ``vacuum``).  The snapshot is read at
    the commit's base version, so a concurrent MERGE that wins the version
    race makes this compaction rebase and rewrite on top of it, folding
    its layer too.  A partition without live files or without live rows
    is a no-op returning the current version: committing the empty-table
    fallback's degenerate schema, or one empty file, over it would replace
    the real schema.  Returns the committed version."""
    return _rewrite_partition(
        spark, root, partition,
        lambda cur: None if cur is None else cur.coalesce(target_files))


ZORDER_BITS = 12  # per-dimension quantization width (2 cols -> 24-bit z)


def _zvalue(cols: list, bounds: list[tuple[float, float]],
            bits: int = ZORDER_BITS):
    """Bit-interleaved Morton code over quantized columns (Column expr).

    Each column is linearly quantized to ``bits`` bits against its
    [lo, hi] data bounds, then the bit planes are interleaved so that
    lexicographic order on the z-value approximates locality in EVERY
    dimension at once — the property that makes per-file min/max tight on
    all clustered columns simultaneously."""
    q = []
    for c, (lo, hi) in zip(cols, bounds):
        span = (hi - lo) or 1.0
        scaled = (c - F.lit(float(lo))) / F.lit(float(span)) \
            * F.lit((1 << bits) - 1)
        q.append(F.round(scaled, 0).cast("long"))
    z = F.lit(0).cast("long")
    n = len(q)
    for b in range(bits):
        for i, qc in enumerate(q):
            z = z + (F.shiftright(qc, b) % 2) * F.lit(1 << (b * n + i))
    return z


def cluster_zorder(spark: SparkSession, root: str, partition: str,
                   cols: tuple[str, ...], target_files: int = 8) -> int:
    """OPTIMIZE ZORDER BY analog: rewrite one partition's snapshot ordered
    by the Morton interleave of ``cols`` and commit the swap atomically,
    recording per-file min/max for every clustered column in the manifest.

    Any column set works: the bounds come from the data, and the layout
    lives INSIDE the transactional format, where the manifest's
    per-column ranges let ``read_snapshot(cols_between=…)`` prune whole
    files without opening a footer.  Like ``compact`` it folds the
    partition's MERGE and DELETE layers away, and a partition without
    live rows is a no-op returning the current version.

    Why it matters at 100 TB: ``compact``/linear sort makes ONE column's
    per-file ranges tight — a 2-D predicate (lat box x lon box, the radius
    scan S2's shape) still opens every file for the dominant column's
    range.  Z-ordering bounds every clustered column's per-file range to
    ~|domain| / target_files^(1/n_cols), so ``read_snapshot(cols_between=
    {...})`` prunes multiplicatively across dimensions.  The rewrite is one
    range-exchange on the z-value (repartitionByRange = sample + range
    shuffle, no skew pile-up on hot cells); bounds come from one min/max
    aggregate over the frame being rewritten.  Concurrency is
    ``compact``'s: a lost commit race re-reads and re-clusters the
    winner's rows."""
    def clustered(cur: DataFrame | None) -> DataFrame | None:
        if cur is None:
            return None
        agg = cur.agg(*[f(F.col(c)).alias(f"{f.__name__}_{c}")
                        for c in cols for f in (F.min, F.max)]).collect()[0]
        if any(v is None for v in agg):  # no live row to quantize
            return None
        bounds = [(float(agg[f"min_{c}"]), float(agg[f"max_{c}"]))
                  for c in cols]
        z = _zvalue([F.col(c) for c in cols], bounds)
        return (cur.withColumn("_z", z)
                   .repartitionByRange(target_files, "_z")
                   .sortWithinPartitions("_z")
                   .drop("_z"))

    return _rewrite_partition(spark, root, partition, clustered,
                              stats_cols=tuple(cols))


def table_changes(spark: SparkSession, root: str, v_from: int, v_to: int,
                  key: str = "route_id",
                  include_preimages: bool = False) -> DataFrame:
    """Row-level change feed between two committed versions (the Delta
    CDF / Iceberg incremental-read analog): returns the rows that were
    inserted, updated, or deleted going v_from -> v_to, tagged
    ``_change_type`` in {'insert', 'update_postimage', 'delete'}.

    Two-level pruning before any row comparison:
    * partitions whose manifest file lists are IDENTICAL between the two
      versions are skipped outright (every writer changes the file list
      of the partitions it touches — a MERGE or DELETE appends a layer,
      a compact/zorder rewrites — so an unchanged file list proves
      unchanged rows) — the manifest diff is metadata-only;
    * within a changed partition, the old and new snapshots are compared
      by a full outer join on ``key``: new-only keys are inserts,
      old-only keys are deletes, and both-sides keys are updates only
      when any non-key column differs.

    The downstream consumer cost is therefore O(changed partitions), not
    O(table) — the property that makes incremental consumption viable on
    a table where the nightly job rewrites one date partition of
    thousands.  Deterministic: no timestamps, versions are the cursor.

    ``include_preimages=True`` additionally emits an
    ``update_preimage``-tagged row (the OLD values) for every updated
    key — the Delta CDF four-type contract.  Pre-images are what make
    the feed ALGEBRAICALLY consumable: an incremental aggregate
    maintainer adds post-images and subtracts pre-images/deletes
    (``streaming.txlog_source.incremental_sum_delta``) without ever
    re-reading the table."""
    m_from, m_to = read_manifest(root, v_from), read_manifest(root, v_to)
    p_from, p_to = m_from["partitions"], m_to["partitions"]
    changed = [p for p in set(p_from) | set(p_to)
               if [e["path"] for e in p_from.get(p, [])]
               != [e["path"] for e in p_to.get(p, [])]]
    out = None
    for part in sorted(changed):
        old = read_snapshot(spark, root, version=v_from, partition=part,
                            key=key)
        new = read_snapshot(spark, root, version=v_to, partition=part,
                            key=key)
        # align schemas: a partition absent in one version yields the
        # single-key fallback frame; compare on the union of columns
        cols = [c for c in new.columns if c != "prediction_date"] \
            if len(new.columns) > 2 else \
            [c for c in old.columns if c != "prediction_date"]
        value_cols = [c for c in cols if c != key]
        o = old.select(*[F.col(c).alias(f"_o_{c}") for c in cols]) \
            if set(cols) <= set(old.columns) else None
        n = new.select(*cols) if set(cols) <= set(new.columns) else None
        if o is None:  # partition newly created: all inserts
            delta = new.select(*cols).withColumn(
                "_change_type", F.lit("insert"))
        elif n is None:  # partition dropped: all deletes
            delta = old.select(*cols).withColumn(
                "_change_type", F.lit("delete"))
        else:
            j = n.join(o, F.col(key) == F.col(f"_o_{key}"), "full_outer")
            diff = F.lit(False)
            for c in value_cols:
                diff = diff | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
            tag = (F.when(F.col(f"_o_{key}").isNull(), "insert")
                    .when(F.col(key).isNull(), "delete")
                    .when(diff, "update_postimage"))
            picked = [F.coalesce(F.col(c), F.col(f"_o_{c}")).alias(c)
                      for c in cols]
            delta = (j.withColumn("_change_type", tag)
                      .filter(F.col("_change_type").isNotNull())
                      .select(*picked, "_change_type"))
            if include_preimages:
                pre = (j.filter(F.col(key).isNotNull()
                                & F.col(f"_o_{key}").isNotNull() & diff)
                        .select(*[F.col(f"_o_{c}").alias(c) for c in cols])
                        .withColumn("_change_type",
                                    F.lit("update_preimage")))
                delta = delta.unionByName(pre)
        delta = delta.withColumn("_partition", F.lit(part))
        out = delta if out is None else out.unionByName(delta)
    if out is None:
        return domain.local_frame(
            spark, [], f"{key} bigint, _change_type string, _partition string")
    return out


def _replace_all(target: dict):
    """Build that replaces the whole partition mapping with ``target``:
    partitions absent from it revert to absent (``[]``), which the
    additive merge of the commit loop cannot express otherwise."""
    return lambda base: {p: target.get(p, []) for p in
                         set(base["partitions"]) | set(target)}


def restore_table(root: str, version: int) -> int:
    """RESTORE TABLE TO VERSION analog: republish version ``version``'s
    partition mapping as a NEW head version (no data movement — manifests
    are pointers), so the rollback is itself an auditable commit and time
    travel to the bad interval keeps working until ``vacuum``.  Goes
    through the optimistic-commit loop, so a concurrent writer cannot be
    silently clobbered: the restore lands on top of whatever won."""
    return _retrying_commit(
        root, _replace_all(read_manifest(root, version)["partitions"]))


# --- Named refs: branches and tags (Iceberg-style) ----------------------------
# A ref is a named pointer into the version log: TAGS are immutable (pin a
# snapshot for audits/releases), BRANCHES move under commits (staging /
# experiment isolation: writers on a branch never change what default
# readers see until a fast-forward).  All snapshots share ONE global
# version allocator; branch history is a DAG recorded by each manifest's
# ``parent`` field.  Ref updates reuse the hard-link CAS primitive of
# ``_publish`` (a per-ref entry log), so concurrent same-branch commits
# conflict-and-retry exactly like version commits — no locks anywhere.
#
# Backward compatibility: a table with NO refs behaves exactly as before
# (default read = max version).  Creating the first ref materializes
# ``main`` at the current head; from then on default reads resolve
# ``main`` and legacy writers advance it.

MAIN = "main"


def _refs_dir(root: str) -> Path:
    return _log_dir(root) / "refs"


def _has_refs(root: str) -> bool:
    d = _refs_dir(root)
    return d.exists() and any(d.iterdir())


def list_refs(root: str) -> dict[str, dict]:
    """{name: {'version': v, 'type': 'branch'|'tag'}} for every ref."""
    out: dict[str, dict] = {}
    d = _refs_dir(root)
    if not d.exists():
        return out
    for sub in sorted(d.iterdir()):
        if sub.is_dir():
            _, meta = _ref_head_meta(root, sub.name)
            out[sub.name] = meta
    return out


def _ref_head_meta(root: str, name: str) -> tuple[int, dict]:
    d = _refs_dir(root) / name
    ks = [int(p.stem[1:]) for p in d.glob("v*.json")] if d.exists() else []
    if not ks:
        raise KeyError(f"no such ref: {name!r}")
    k = max(ks)
    return k, json.loads((d / f"v{k}.json").read_text())


def resolve_ref(root: str, name: str) -> int:
    """Version a ref currently points at."""
    return _ref_head_meta(root, name)[1]["version"]


def _ref_publish(root: str, name: str, entry: int, version: int,
                 ref_type: str) -> bool:
    d = _refs_dir(root) / name
    d.mkdir(parents=True, exist_ok=True)
    tmp = d / f".tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps({"version": version, "type": ref_type}))
    try:
        os.link(tmp, d / f"v{entry}.json")
        return True
    except FileExistsError:
        return False
    finally:
        tmp.unlink()


def _ensure_main(root: str) -> None:
    """Materialize ``main`` at the current head on first ref creation."""
    try:
        _ref_head_meta(root, MAIN)
    except KeyError:
        _ref_publish(root, MAIN, 1, current_version(root), "branch")


def create_tag(root: str, name: str, version: int | None = None) -> int:
    """Immutable named snapshot pointer; errors if the name exists."""
    _ensure_main(root)
    v = current_version(root) if version is None else version
    if (_refs_dir(root) / name).exists():
        raise ValueError(f"ref exists: {name!r}")
    _ref_publish(root, name, 1, v, "tag")
    return v


def create_branch(root: str, name: str, version: int | None = None) -> int:
    """Movable branch pointer starting at ``version`` (default: head)."""
    _ensure_main(root)
    v = (resolve_ref(root, MAIN) if version is None else version)
    if (_refs_dir(root) / name).exists():
        raise ValueError(f"ref exists: {name!r}")
    _ref_publish(root, name, 1, v, "branch")
    return v


def branch_commit(root: str, name: str, build,
                  max_retries: int = 10) -> int:
    """Optimistic commit ON A BRANCH: base = the branch head's manifest,
    the new manifest records ``parent``/``branch``, and the branch pointer
    advances via the ref CAS.  A lost pointer race orphans the published
    manifest (vacuum collects it) and rebases.  A build that returns
    ``{}`` is a no-op returning the branch head."""
    for _ in range(max_retries):
        entry, meta = _ref_head_meta(root, name)
        if meta.get("type") == "tag":
            raise ValueError(f"cannot commit to tag {name!r}")
        base = read_manifest(root, meta["version"])
        changed = build(base)
        if not changed:
            return meta["version"]
        published = None
        for _ in range(max_retries):
            v = current_version(root) + 1
            nxt = {"version": v, "parent": meta["version"], "branch": name,
                   "partitions": {**base["partitions"], **changed}}
            if _publish(root, nxt):
                published = v
                break
        if published is None:
            break
        if _ref_publish(root, name, entry + 1, published, "branch"):
            return published
        # branch pointer lost to a concurrent same-branch writer: the
        # published manifest is unreachable; rebase on the winner
    raise CommitConflict(f"lost {max_retries} branch races on {name!r}")


def fast_forward(root: str, name: str = MAIN, to_ref: str | None = None,
                 to_version: int | None = None) -> int:
    """Publish another ref's state onto branch ``name`` (the publish step
    of a branch workflow).  This creates a NEW commit on ``name`` whose
    partition mapping equals the source snapshot (no data movement —
    manifests are pointers), rather than moving the pointer backwards in
    version-number space: the merge is therefore auditable, and the
    commit-grain streaming source's monotone version cursor surfaces it
    like any other main commit."""
    v = resolve_ref(root, to_ref) if to_ref else to_version
    if v is None:
        raise ValueError("need to_ref or to_version")
    return branch_commit(root, name,
                         _replace_all(read_manifest(root, v)["partitions"]))


def main_lineage_versions(root: str) -> list[int]:
    """Ascending versions that belong to main: manifests with no branch
    field (pre-ref history) or branch == 'main', plus any version main
    was fast-forwarded to."""
    head = current_version(root)
    keep = []
    # every version main has EVER pointed at (the ref entry log) counts:
    # a historical fast-forward target carries a foreign branch label but
    # was main's head at the time
    ff = set()
    d = _refs_dir(root) / MAIN
    if d.exists():
        for p in d.glob("v*.json"):
            ff.add(json.loads(p.read_text())["version"])
    for v in range(1, head + 1):
        if not _manifest_path(root, v).exists():
            continue
        m = read_manifest(root, v)
        if m.get("branch", MAIN) == MAIN or v in ff:
            keep.append(v)
    return keep
