"""Sink (S8/S9/S10), streaming refresh, stateful operators, skew utilities,
and multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

import tempfile
from pathlib import Path

from safeascent_spark import txlog
from safeascent_spark.operators import multimodal as MM
from safeascent_spark.operators import scoring
from safeascent_spark.streaming import refresh
from tests.conftest import SF_SMOKE


def test_score_sink_roundtrip_and_retention(spark):
    """The score sink is the txlog table: re-committing a date is
    idempotent, a serving read sees one date's files only, and retention
    is one commit that maps the purged date to no files."""
    with tempfile.TemporaryDirectory() as tmp:
        path = str(Path(tmp) / "scores")
        df = scoring.risk_scores_df(spark, SF_SMOKE)
        txlog.commit_overwrite_partition(df, path, "2024-06-15")
        txlog.commit_overwrite_partition(df, path, "2024-06-16")
        # idempotent re-write of one date must not duplicate
        txlog.commit_overwrite_partition(df, path, "2024-06-16")
        n = df.count()
        got = txlog.read_snapshot(spark, path, partition="2024-06-16")
        assert got.count() == n
        files = {f"{path}/{e['path']}" for e in
                 txlog.read_manifest(path)["partitions"]["2024-06-16"]}
        assert {f.removeprefix("file://") for f in got.inputFiles()} \
            <= files

        v = txlog._retrying_commit(path, lambda base: {"2024-06-15": []})
        assert txlog.read_manifest(path)["partitions"]["2024-06-15"] == []
        assert txlog.read_snapshot(spark, path).count() == n
        # the purged date stays readable by time travel until vacuum
        assert txlog.read_snapshot(spark, path, version=v - 1,
                                   partition="2024-06-15").count() == n


def test_upsert_merge_on_read_and_compaction(spark):
    """Row-level upserts are MERGE layers: the latest layer wins per key,
    other dates are untouched, and compaction folds the layers into plain
    files with the same rows."""
    with tempfile.TemporaryDirectory() as tmp:
        path = str(Path(tmp) / "scores")
        df = scoring.risk_scores_df(spark, SF_SMOKE).localCheckpoint(eager=True)
        n = df.count()
        txlog.commit_overwrite_partition(df, path, "2024-06-15")
        txlog.commit_overwrite_partition(df, path, "2024-06-16")

        # row-level upsert into an existing date: change 2 rows, add 1 new
        changed = (df.filter(F.col("route_id") < 2)
                     .withColumn("risk_score", F.lit(99.0)))
        added = spark.createDataFrame(
            [(10_000_000, 1.5, "green", 0)],
            "route_id bigint, risk_score double, color_code string, "
            "num_contributing int")
        txlog.merge_scores(changed.unionByName(added), path, "2024-06-16")

        cur = txlog.read_snapshot(spark, path, partition="2024-06-16")
        assert cur.count() == n + 1
        got = {r.route_id: r.risk_score for r in
               cur.filter(F.col("route_id").isin(0, 1, 10_000_000)).collect()}
        assert got == {0: 99.0, 1: 99.0, 10_000_000: 1.5}
        # a second upsert of the same key wins over the first (latest layer)
        txlog.merge_scores(
            changed.limit(1).withColumn("risk_score", F.lit(50.0)),
            path, "2024-06-16")
        cur2 = txlog.read_snapshot(spark, path, partition="2024-06-16")
        assert cur2.filter(F.col("route_id") == 0).collect()[0].risk_score == 50.0
        # the untouched date still reads pure base
        assert txlog.read_snapshot(
            spark, path, partition="2024-06-15").count() == n

        # compaction folds the layers into plain files
        assert txlog.merge_layers(path, "2024-06-16") == 2
        txlog.compact(spark, path, "2024-06-16")
        assert txlog.merge_layers(path, "2024-06-16") == 0
        after = txlog.read_snapshot(spark, path, partition="2024-06-16")
        assert after.count() == n + 1
        assert after.filter(F.col("route_id") == 0).collect()[0].risk_score == 50.0


def test_streaming_refresh_availablenow(spark):
    with tempfile.TemporaryDirectory() as tmp:
        out = str(Path(tmp) / "weather_dim")
        n_batches = refresh.run_refresh(spark, SF_SMOKE, out)
        assert n_batches >= 1
        dim = spark.read.parquet(out)
        cols = set(dim.columns)
        assert {"wbucket", "v_avg", "n_obs", "day"} <= cols
        assert dim.count() > 0
        # every bucket id within range
        assert dim.filter("wbucket < 0 OR wbucket >= 100").count() == 0


def test_multimodal_feature_extract(spark):
    media = MM.media_df(spark, SF_SMOKE)
    feats = MM.extract_features(media).collect()
    assert len(feats) == media.count()
    for f in feats[:20]:
        assert f.n_bytes > 0
        assert 64 <= f.width < 1088 and 64 <= f.height < 1088
    # deterministic: second run identical
    feats2 = MM.extract_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))


def test_multimodal_strict_raises(spark):
    import pytest
    media = MM.media_df(spark, SF_SMOKE)
    with pytest.raises(NotImplementedError):
        MM.extract_features(media, strict=True)


def test_multimodal_frame_sample(spark):
    media = MM.media_df(spark, SF_SMOKE)
    frames = MM.frame_sample(media, every_n=4).collect()
    assert len(frames) > 0
    by_media: dict[int, list] = {}
    for fr in frames:
        by_media.setdefault(fr.media_id, []).append(fr.frame_no)
    for mid, nos in by_media.items():
        assert nos == list(range(len(nos)))  # contiguous frame numbering


def test_png_codec_roundtrip_pure():
    payload = MM.encode_png(20, 17, 200)
    w, h, bd, ct, psum = MM.decode_png(payload)
    assert (w, h, bd, ct) == (20, 17, 8, 0)
    assert psum == sum(20 * ((200 + r) % 256) for r in range(17))
    # corrupting a payload byte must trip the CRC check
    import pytest
    broken = bytearray(payload)
    broken[20] ^= 0xFF  # inside the IHDR data
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_png(bytes(broken))
    with pytest.raises(ValueError, match="signature"):
        MM.decode_png(b"GIF89a" + payload)


def test_png_media_spark_roundtrip(spark):
    media = MM.png_media_df(spark, SF_SMOKE)
    meta = {r.media_id: r for r in MM.extract_png_meta(media).collect()}
    docs = {r.doc_id: r.n_chars
            for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
                          .select("doc_id", "n_chars").collect()}
    assert set(meta) == set(docs)
    for did, nc in docs.items():
        m = meta[did]
        assert (m.width, m.height) == (16 + did % 32, 16 + nc % 32)
        assert m.n_pixels == m.width * m.height
        assert m.n_bytes > 8 + 25 + 12  # sig + IHDR + IEND framing at least
        assert m.pixel_sum == sum(m.width * ((nc % 256 + r) % 256)
                                  for r in range(m.height))


def test_stateful_ema_stream(spark):
    import tempfile
    from pathlib import Path
    from safeascent_spark.streaming import stateful
    with tempfile.TemporaryDirectory() as tmp:
        out = str(Path(tmp) / "ema")
        n = stateful.run_stateful_ema(spark, SF_SMOKE, out)
        assert n > 0
        rows = stateful.read_ema_state(spark, out).collect()
        assert len(rows) > 0
        for r in rows:
            assert r.n_obs > 0 and r.ema is not None
        # latest state per key must cover every event exactly once, even if
        # availableNow split the pass into several appended micro-batches
        from safeascent_spark import domain
        total = sum(r.n_obs for r in rows)
        assert total == domain.load_table(spark, SF_SMOKE, "events").count()


def test_streaming_sessionization_matches_batch(spark):
    from safeascent_spark.streaming import sessions
    with tempfile.TemporaryDirectory() as tmp:
        out = str(Path(tmp) / "sessions")
        sessions.run_sessionization(spark, SF_SMOKE, out)
        got = spark.read.parquet(out).collect()
        batch = {(r.user_id, r.session_start, r.session_end):
                 (r.n_events, r.v_sum)
                 for r in sessions.user_sessions_batch(spark, SF_SMOKE)
                                  .collect()}
        assert len(batch) > 0
        # every watermark-closed streamed session must match batch exactly
        assert len(got) > 0
        for r in got:
            key = (r.user_id, r.session_start, r.session_end)
            assert key in batch, key
            assert batch[key] == (r.n_events, r.v_sum), key


def test_salted_sum_matches_plain(spark):
    from safeascent_spark import domain, skew
    import pytest
    li = domain.load_table(spark, SF_SMOKE, "lineitem")
    plain = {r.l_orderkey: r.s for r in
             li.groupBy("l_orderkey")
               .agg(F.sum("l_quantity").alias("s")).collect()}
    salted = {r.l_orderkey: r.total for r in
              skew.salted_sum(li, ["l_orderkey"], "l_quantity",
                              "total").collect()}
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k] == pytest.approx(plain[k], rel=1e-12)


def test_replicated_broadcast_join_matches_plain(spark):
    from safeascent_spark import domain, skew
    r = domain.routes_df(spark, SF_SMOKE)
    loc = domain.locations_df(spark, SF_SMOKE)
    plain = r.join(loc, "location_id").count()
    salted = skew.replicate_broadcast_join(r, loc, "location_id").count()
    assert plain == salted


def test_bucketed_write_avoids_shuffle_on_join(spark, tmp_path):
    """Joining two tables bucketed on the same key must not shuffle either
    side (no Exchange above the scans in the join subtree)."""
    import shutil
    from safeascent_spark import domain, sinks
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    for t in ("routes_b", "counts_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    r = domain.routes_df(spark, SF_SMOKE).select("route_id", "location_id")
    c = domain.routes_df(spark, SF_SMOKE).groupBy("location_id").count()
    sinks.write_bucketed(r, "routes_b", "location_id")
    sinks.write_bucketed(c, "counts_b", "location_id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a distributed join so the bucketing (not a broadcast) is
        # what removes the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (spark.table("routes_b")
                  .join(spark.table("counts_b"), "location_id")
                  .filter("count >= 0"))
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucketing provides the distribution: no shuffle above the scans
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS routes_b")
        spark.sql("DROP TABLE IF EXISTS counts_b")


def test_sources_format_roundtrip(spark):
    """CSV and JSON ingestion with explicit schemas must reproduce the
    parquet table exactly (documents: JSON only — its free text embeds
    quotes/commas that CSV interchange would need escaping contracts for)."""
    import math
    from safeascent_spark import sources

    def rows_equal(a, b):
        if isinstance(a, list) and isinstance(b, list):
            return len(a) == len(b) and all(rows_equal(x, y)
                                            for x, y in zip(a, b))
        if isinstance(a, float) and isinstance(b, float):
            # float32 -> JSON decimal text -> float32 may not bit-roundtrip
            return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-7)
        return a == b

    cases = [("events", ["csv", "json", "orc"]),
             ("documents", ["json", "orc"]),
             ("embeddings", ["json", "orc"])]
    with tempfile.TemporaryDirectory() as tmp:
        for name, fmts in cases:
            base = sources.read_table(
                spark, f"{SF_SMOKE}/{name}.parquet", name, "parquet")
            key = base.columns[0]
            expected = [tuple(r) for r in base.orderBy(key).collect()]
            for fmt in fmts:
                path = str(Path(tmp) / f"{name}_{fmt}")
                sources.write_table(base, path, fmt)
                back = sources.read_table(spark, path, name, fmt)
                got = [tuple(r) for r in back.orderBy(key).collect()]
                assert len(got) == len(expected), (name, fmt)
                for x, y in zip(got, expected):
                    assert all(rows_equal(a, b) for a, b in zip(x, y)), \
                        (name, fmt, x[0])


def test_streaming_dedup_within_watermark(spark):
    from safeascent_spark.streaming import dedupe
    from safeascent_spark import domain

    q = (dedupe.deduped_event_stream(spark, SF_SMOKE)
         .writeStream.format("memory").queryName("dedup_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT event_id, count(*) AS c FROM dedup_sink GROUP BY event_id")
    n_events = domain.load_table(spark, SF_SMOKE, "events") \
                     .select("event_id").distinct().count()
    assert got.count() == n_events                      # every id exactly once
    assert got.filter("c > 1").count() == 0             # no duplicate emission
    # and the duplicated source really delivered 2x (guard against the
    # union being optimized away / the simulation being vacuous)
    q2 = (dedupe.duplicated_event_stream(spark, SF_SMOKE)
          .writeStream.format("memory").queryName("dup_sink")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert spark.table("dup_sink").count() == 2 * n_events


def test_upsert_two_writer_contention(spark):
    """S9 race (VERDICT r3 item 5): two concurrent upserts of the SAME
    date both build against the same base version; the loser of the
    publish race rebases, and both layers survive.  Threads synchronize on
    a barrier so both builds finish before either publishes."""
    import threading

    with tempfile.TemporaryDirectory() as tmp:
        path = str(Path(tmp) / "scores")
        base = spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "route_id bigint, risk_score double")
        txlog.commit_overwrite_partition(base, path, "2024-06-15")
        d1 = spark.createDataFrame([(1, 11.0)],
                                   "route_id bigint, risk_score double")
        d2 = spark.createDataFrame([(2, 22.0)],
                                   "route_id bigint, risk_score double")
        barrier = threading.Barrier(2)
        orig, tries, versions = txlog._publish, [], []

        def contended(root, manifest):
            tries.append(manifest["version"])
            if len(tries) <= 2:
                barrier.wait(timeout=60)  # both built on the same base
            return orig(root, manifest)

        txlog._publish = contended
        try:
            threads = [threading.Thread(target=lambda d=d: versions.append(
                txlog.merge_scores(d, path, "2024-06-15"))) for d in (d1, d2)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(60)
        finally:
            txlog._publish = orig
        assert tries[:2] == [2, 2] and sorted(versions) == [2, 3], tries
        got = {r.route_id: r.risk_score
               for r in txlog.read_snapshot(spark, path).collect()}
        assert got == {1: 11.0, 2: 22.0}, got


def test_session_confs_pinned_for_new_session(spark):
    """domain.load_table pins nanosAsLong + UTC session timezone
    UNCONDITIONALLY (not only on cache miss), so a second session created
    with spark.newSession() — fresh SESSION confs, shared SparkContext and
    therefore shared plan cache — must produce identical results for a
    timestamp-deriving oracle query (VERDICT r3 'what's wrong' item 1)."""
    from safeascent_spark.operators import analytics as A
    base = {tuple(r) for r in A.q_climbing_windows(spark, SF_SMOKE).collect()}
    s2 = spark.newSession()
    got = {tuple(r) for r in A.q_climbing_windows(s2, SF_SMOKE).collect()}
    assert got == base
    assert s2.conf.get("spark.sql.session.timeZone") == "UTC"
    assert s2.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_streaming_ingest_dedup_matches_batch(spark, tmp_path):
    """The foreachBatch ingest-dedup stream must produce bit-identical
    verdicts to the batch q_dedup_incremental over the same documents:
    signatures come from the same frozen corpus vocabulary, and the
    per-microbatch plan is the same broadcast band join."""
    from safeascent_spark.operators import dedup as D
    from safeascent_spark.streaming import ingest_dedup

    out = str(tmp_path / "verdicts")
    n_batches = ingest_dedup.run_ingest_dedup(spark, SF_SMOKE, out)
    assert n_batches >= 1
    got = {tuple(r) for r in
           ingest_dedup.read_verdicts(spark, out).collect()}
    want = {tuple(r) for r in D.q_dedup_incremental(spark, SF_SMOKE).collect()}
    assert got == want
    assert len(want) > 0


def test_session_gc_unpersists_cached_frames(spark):
    """ADVICE r4: a dead newSession() clone must release the storage its
    session-scoped frames held.  Two properties: (1) the session object
    is actually collectible — the memo lives ON the session, so the
    stored-DataFrame -> session reference is a collectible cycle, not a
    weak-key-table immortality trap; (2) the finalizer frees the frame's
    blocks, for a ``.cache()`` frame (shingles) and a ``localCheckpoint``
    frame (the wsim dim) alike: neither CacheManager entries nor
    checkpoint blocks held by a live RDD are ContextCleaner-collected on
    their own.  A checkpoint is counted as the persistent RDD its build
    added."""
    import gc
    import weakref

    from safeascent_spark.operators import dedup as D
    from safeascent_spark.operators import weather as W

    def pinned() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # CacheManager is shared by all sessions, so a .cache() plan another
    # session already cached adds no RDD; check its storage level instead
    for case, build, stored in [
            ("cache", D.shingles_cached,
             lambda jdf, added: jdf.storageLevel().useMemory()),
            ("checkpoint", W.weather_similarity_cached,
             lambda jdf, added: len(added) == 1)]:
        before = pinned()
        s2 = spark.newSession()
        df = build(s2, SF_SMOKE)
        df.count()                   # materialize a .cache()
        added = pinned() - before
        jdf = df._jdf                # py4j handle: no Python-session ref
        assert stored(jdf, added), (case, added)
        ref = weakref.ref(s2)
        del df, s2
        # upstream pyspark pins the LATEST session in RDD.toDF's closure
        # (_monkey_patch_RDD); churn one more session to displace it — the
        # exact long-lived-driver pattern the finalizer exists for
        spark.newSession()
        gc.collect()
        assert ref() is None, f"{case}: session leaked — cycle not collected"
        assert not jdf.storageLevel().useMemory(), f"{case}: cache leaked"
        assert not added & pinned(), f"{case}: storage blocks leaked"


def test_streaming_ingest_restart_is_exactly_once(spark, tmp_path):
    """VERDICT r4 item 4: kill the ingest-dedup stream in the worst-case
    window (sink written, checkpoint NOT committed), restart from the
    checkpoint, and assert the verdict set is exactly-once — the replayed
    epoch overwrites its own epoch directory instead of appending a
    duplicate, and no epoch is lost.  This is the streaming translation
    of the reference's nightly-cron resumability semantics
    (backend/app/celery_app.py:51-61)."""
    import shutil

    import pandas as pd
    import pytest

    from safeascent_spark.operators import dedup as D
    from safeascent_spark.streaming import ingest_dedup

    feed = tmp_path / "feed"
    feed.mkdir()
    # corpus file (index + vocabulary + the batch-equivalence target)
    shutil.copy(f"{SF_SMOKE}/documents.parquet", feed / "documents.parquet")
    # the incoming feed: the batch slice split across 3 files -> 3 epochs
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    new = docs[docs.doc_id % D.INCR_NEW_MOD == D.INCR_NEW_REM] \
        .reset_index(drop=True)
    assert len(new) >= 3
    third = len(new) // 3
    for i in range(3):
        hi = (i + 1) * third if i < 2 else len(new)
        new.iloc[i * third:hi].to_parquet(feed / f"incoming_{i}.parquet")

    out = str(tmp_path / "verdicts")
    # run 1: crash after epoch 1's sink write, before its commit
    with pytest.raises(Exception, match="injected crash"):
        ingest_dedup.run_ingest_dedup(
            spark, str(feed), out, glob="incoming_*.parquet",
            max_files_per_trigger=1, fail_at_epoch=1)
    # epoch 1's output exists on disk even though it was never committed —
    # exactly the state an append sink would double on restart
    assert (tmp_path / "verdicts" / "epoch=1").exists()

    # run 2: restart from the checkpoint; replays epoch 1, finishes epoch 2
    n2 = ingest_dedup.run_ingest_dedup(
        spark, str(feed), out, glob="incoming_*.parquet",
        max_files_per_trigger=1)
    assert n2 >= 1
    got = ingest_dedup.read_verdicts(spark, out).collect()
    ids = [r.new_doc_id for r in got]
    assert len(ids) == len(set(ids)), "duplicated verdicts after replay"
    want = {tuple(r) for r in
            D.q_dedup_incremental(spark, str(feed)).collect()}
    assert {tuple(r) for r in got} == want, "lost or corrupted epochs"
