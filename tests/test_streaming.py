"""Structured Streaming extension tests: file-drop source, availableNow
trigger, watermark dedup, windowed counters, sessions, idempotent sink."""

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.streaming import incremental as S
from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp()
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def event_drop_zone(spark, tmpdir):
    """Copy the events table into a drop-zone dir as the stream input
    (via the catalog loader, which normalizes the nanos timestamps)."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.catalog import (
        load_table,
    )

    src = load_table(spark, SF_SMOKE, "events")
    drop = tmpdir / "in"
    src.coalesce(1).write.parquet(str(drop))
    return drop


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_match_batch(spark, event_drop_zone):
    stream = S.read_event_stream(spark, str(event_drop_zone))
    q = _run_to_memory(S.windowed_counts(stream, window="1 day"), "win_counts")
    got = spark.sql("SELECT sum(n_events) AS n FROM win_counts").first()["n"]
    batch_n = spark.read.parquet(str(event_drop_zone)).count()
    assert got == batch_n
    q.stop()


def test_dedup_within_watermark_collapses_restamped_duplicates(
    spark, event_drop_zone, tmpdir
):
    """A producer retry re-stamps the same business key with a new event
    time: dropDuplicatesWithinWatermark must keep ONE row per key while
    plain per-(key, ts) identity would keep both."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.catalog import (
        load_table,
    )

    base = load_table(spark, SF_SMOKE, "events").limit(50)
    # duplicate every event under the same business key, shifted 1 s
    dup = base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    drop = tmpdir / "restamped"
    base.unionByName(dup).coalesce(1).write.parquet(str(drop))

    stream = S.read_event_stream(spark, str(drop))
    q = (
        S.dedup_stream_within_watermark(
            stream, keys=["event_id"], lateness="10 minutes"
        )
        .writeStream.format("memory")
        .queryName("wm_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n FROM wm_dedup").first()["n"]
    assert n == base.count()  # one survivor per event_id despite 2 ts stamps
    q.stop()


def test_throttle_stream_matches_batch_twin(spark, event_drop_zone):
    """Streaming repeat-collapse agrees with the batch q100 twin on the
    same events: one survivor per (user, type, 10-min window), identical
    first-event picks and group counts."""
    stream = S.read_event_stream(spark, str(event_drop_zone))
    q = _run_to_memory(S.throttle_stream(stream, window="10 minutes"), "throttled")
    got = {
        (r["user_id"], r["event_type"], r["window_start"]):
            (r["n_events"], r["first_event_id"])
        for r in spark.sql("SELECT * FROM throttled").collect()
    }
    from superstore_data_pipeline_analytics_dashboard__spark.plans import (
        catalog_queries as Q,
    )

    want = {}
    for r in Q.QUERIES["q100_event_throttle"](spark, SF_SMOKE).collect():
        want[(r["user_id"], r["event_type"], r["window_start_us"])] = (
            r["n_events"], r["first_event_id"],
        )
    # stream keys carry instant timestamps (naive datetimes rendered in
    # the UTC session tz); batch twin carries epoch us — pin UTC
    # explicitly so the host tz can't shift the comparison
    import datetime as _dt

    got_us = {
        (u, t, int(ws.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)): v
        for (u, t, ws), v in got.items()
    }
    assert got_us == want
    q.stop()


def test_hopping_watermark_late_data_semantics(spark, tmpdir):
    """Hopping windows (1h/30m) + 10-min watermark across TWO
    checkpointed availableNow runs: run 1 establishes the watermark at
    11:20; run 2 delivers a tolerably-late 10:35 row (counted ONLY in
    its still-open [10:30,11:30) window — its [10:00,11:00) window is
    already closed), a beyond-late 09:00 row (every window closed —
    dropped entirely), and a 13:00 flush row that advances the
    watermark to close the remaining windows. The parquet sink
    accumulates append-mode emissions across the runs; the final
    content is the hand-computed expectation — the drop, the partial
    inclusion, and closed-windows-only emission all pinned at once."""
    import datetime as dt
    import glob

    def land(tag, rows):
        stage = str(tmpdir / f"stage_{tag}")
        drop = tmpdir / "hop_in"
        drop.mkdir(exist_ok=True)
        spark.createDataFrame(rows, S.EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        shutil.move(glob.glob(f"{stage}/*.parquet")[0], str(drop / f"{tag}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)
        return drop

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    out, ckpt = str(tmpdir / "hop_out"), str(tmpdir / "hop_ckpt")

    def run(drop):
        counts = S.windowed_counts(
            S.read_event_stream(spark, str(drop)),
            window="1 hour",
            slide="30 minutes",
            lateness="10 minutes",
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    drop = land(
        "run1",
        [
            (1, t(10, 0), 1, "A", 1.0, None),
            (2, t(10, 20), 1, "A", 1.0, None),
            (3, t(10, 50), 2, "B", 1.0, None),
            (4, t(11, 30), 2, "B", 1.0, None),  # clock: watermark→11:20
        ],
    )
    run(drop)
    land(
        "run2",
        [
            (5, t(10, 35), 3, "B", 1.0, None),  # tolerable late
            (6, t(9, 0), 3, "A", 1.0, None),  # beyond late: dropped
            (7, t(13, 0), 4, "C", 1.0, None),  # flush: watermark→12:50
        ],
    )
    run(drop)

    got = {
        (r["window_start"].strftime("%H:%M"), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("09:30", "A"): 2,
        ("10:00", "A"): 2,
        ("10:00", "B"): 1,
        ("10:30", "B"): 2,  # e3 + the tolerably-late e5; NOT e5 twice
        ("11:00", "B"): 1,
        ("11:30", "B"): 1,
    }, got
    # the beyond-late 09:00 event appears nowhere, and the flush
    # event's own windows are still open (append emits closed only)
    assert not any(ws < "09:30" or ws >= "12:30" for ws, _ in got)


def test_sessionize_runs_and_bounds(spark, event_drop_zone):
    stream = S.read_event_stream(spark, str(event_drop_zone))
    q = _run_to_memory(S.sessionize(stream, gap="30 minutes"), "sessions")
    sess = spark.sql("SELECT * FROM sessions")
    assert sess.count() > 0
    bad = sess.filter(F.col("session_start") > F.col("first_event")).count()
    assert bad == 0
    # every event lands in exactly one session per user
    total = spark.sql("SELECT sum(n_events) AS n FROM sessions").first()["n"]
    assert total == spark.read.parquet(str(event_drop_zone)).count()
    q.stop()


def test_idempotent_append_exactly_once(spark, event_drop_zone, tmpdir):
    sink = str(tmpdir / "sink")
    ckpt1 = str(tmpdir / "ckpt1")

    stream = S.dedup_stream(S.read_event_stream(spark, str(event_drop_zone)))
    q = S.start_idempotent_append(stream, sink, ckpt1)
    q.awaitTermination(120)

    n1 = spark.read.parquet(sink).count()
    assert n1 == spark.read.parquet(str(event_drop_zone)).count()

    # replay the SAME input with a fresh checkpoint (simulated reprocess):
    # the per-batch left-anti must keep the sink unchanged
    ckpt2 = str(tmpdir / "ckpt2")
    stream2 = S.dedup_stream(S.read_event_stream(spark, str(event_drop_zone)))
    q2 = S.start_idempotent_append(stream2, sink, ckpt2)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(sink).count()
    assert n2 == n1, f"replay duplicated rows: {n1} -> {n2}"


def test_stream_stream_interval_join_matches_batch(spark, event_drop_zone):
    """The stream-stream interval join must produce exactly the pairs the
    equivalent batch join produces over the same input."""
    stream = S.read_event_stream(spark, str(event_drop_zone))
    joined = S.click_purchase_attribution(stream, within_seconds=3600)
    q = (
        joined.writeStream.format("memory")
        .queryName("attributed")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT click_id, purchase_id FROM attributed").collect()
    }

    ev = spark.read.parquet(str(event_drop_zone))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    batch = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 3600 SECONDS")),
    )
    expected = {(r["cid"], r["pid"]) for r in batch.collect()}
    assert got == expected and len(got) > 0
    q.stop()


def test_rollup_maintenance_matches_batch(spark, tmpdir):
    """The incrementally-maintained rollup must equal a batch groupBy of
    the full input — across MULTIPLE micro-batches (maxFilesPerTrigger=1
    over a multi-file drop zone forces several merge rounds)."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.catalog import (
        load_table,
    )

    drop = tmpdir / "in"
    load_table(spark, SF_SMOKE, "events").repartition(4).write.parquet(str(drop))

    stream = (
        spark.readStream.schema(S.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    sink = str(tmpdir / "serving")
    q = S.start_rollup_maintenance(
        stream, sink, str(tmpdir / "ckpt"), keys=("event_type",)
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: (r["n_events"], round(r["sum_value"], 6))
        for r in spark.read.parquet(sink).collect()
    }
    expected = {
        r["event_type"]: (r["n"], round(r["s"], 6))
        for r in spark.read.parquet(str(drop))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected and len(got) >= 3


def test_cumulative_threshold_alerts_stateful(spark, event_drop_zone):
    """The custom applyInPandasWithState operator: alert counts must match
    a batch recomputation of cumulative-threshold crossings."""
    stream = S.read_event_stream(spark, str(event_drop_zone))
    alerts = S.cumulative_threshold_alerts(stream, threshold=100.0)
    q = (
        alerts.writeStream.format("memory")
        .queryName("alerts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, max(alert_no) AS n FROM alerts GROUP BY user_id"
    ).collect()
    got_map = {r["user_id"]: r["n"] for r in got}

    batch = spark.read.parquet(str(event_drop_zone)).groupBy("user_id").agg(
        F.sum("value").alias("total")
    )
    expected = {
        r["user_id"]: int(r["total"] // 100.0)
        for r in batch.collect()
        if r["total"] >= 100.0
    }
    assert got_map == expected
    # alert numbers are dense per user starting at 1
    dense = spark.sql("""
        SELECT user_id, count(*) c, max(alert_no) m, min(alert_no) lo
        FROM alerts GROUP BY user_id
    """).collect()
    assert all(r["c"] == r["m"] and r["lo"] == 1 for r in dense)
    q.stop()


def test_content_dedup_append_collapses_recrawls(spark, tmpdir):
    """Streaming content dedup: re-crawled docs with NEW ids but
    identical text must be dropped against the persisted fingerprint
    state across micro-batches, and a full replay with a fresh
    checkpoint must append nothing."""
    drop = tmpdir / "docs_in"
    drop.mkdir()
    # three files → three micro-batches under maxFilesPerTrigger=1
    b1 = [(1, "alpha beta gamma"), (2, "delta epsilon zeta")]
    b2 = [(11, "alpha beta gamma"), (12, "a brand new document")]  # 11 re-crawls 1
    b3 = [(21, "a  brand   new document"), (22, "another fresh one")]  # ws-variant of 12
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, "doc_id BIGINT, text STRING").coalesce(
            1
        ).write.parquet(str(drop / f"batch{i}"))

    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(str(drop))
    )
    sink, fps = str(tmpdir / "corpus"), str(tmpdir / "fps")
    q = S.start_content_dedup_append(stream, sink, fps, str(tmpdir / "ck1"))
    q.awaitTermination(120)

    kept = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    # exactly ONE survivor per distinct content, whatever the micro-batch
    # arrival order: {1,11} share text, {12,21} share normalized text
    assert len(kept & {1, 11}) == 1
    assert len(kept & {12, 21}) == 1
    assert 2 in kept and 22 in kept
    assert len(kept) == 4
    assert spark.read.parquet(fps).distinct().count() == len(kept)

    # replay everything with a fresh checkpoint → nothing new
    stream2 = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("recursiveFileLookup", True)
        .parquet(str(drop))
    )
    q2 = S.start_content_dedup_append(stream2, sink, fps, str(tmpdir / "ck2"))
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(sink).collect()} == kept


def test_streaming_append_maintains_manifest(spark, tmpdir):
    """start_append_with_manifest: every landed file gets a manifest row
    whose envelope is correct, and manifest-driven pruned reads over the
    streamed sink return exactly the range predicate's rows."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        read_pruned,
    )

    drop = tmpdir / "in"
    b1 = [(i, i % 7) for i in range(0, 100)]
    b2 = [(i, i % 7) for i in range(100, 250)]
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "id BIGINT, v BIGINT").coalesce(1).write.parquet(
            str(drop / f"b{i}")
        )

    stream = (
        spark.readStream.schema("id BIGINT, v BIGINT")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(str(drop))
    )
    sink, man = str(tmpdir / "sink"), str(tmpdir / "manifest")
    q = S.start_append_with_manifest(
        stream, sink, man, str(tmpdir / "ck"), stat_cols=["id"]
    )
    q.awaitTermination(120)

    stats = spark.read.parquet(man)
    rows = stats.collect()
    assert sum(r["n_rows"] for r in rows) == 250
    assert min(r["min_id"] for r in rows) == 0
    assert max(r["max_id"] for r in rows) == 249

    got = sorted(
        r["id"] for r in read_pruned(spark, stats, "id", 90, 110).collect()
    )
    assert got == list(range(90, 111))

    # replay safety: re-running a batch rewrites its data partition with
    # NEW parquet file names, so its manifest rows must be REPLACED —
    # an appended manifest would keep paths to deleted files and pruned
    # reads would crash on PATH_NOT_FOUND. Simulate a pre-checkpoint
    # retry by re-running the stream against a fresh checkpoint.
    stream2 = (
        spark.readStream.schema("id BIGINT, v BIGINT")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(str(drop))
    )
    q2 = S.start_append_with_manifest(
        stream2, sink, man, str(tmpdir / "ck2"), stat_cols=["id"]
    )
    q2.awaitTermination(120)
    stats2 = spark.read.parquet(man)
    assert sum(r["n_rows"] for r in stats2.collect()) == 250  # no stale rows
    got2 = sorted(
        r["id"] for r in read_pruned(spark, stats2, "id", 90, 110).collect()
    )
    assert got2 == list(range(90, 111))


def test_streaming_append_maintains_bloom_store(spark, tmpdir):
    """bloom_cols= lands a per-batch Bloom summary alongside the zone
    maps — current by construction (rebuilt at land time, the contract
    erase_rows' bloom pruning requires), replay-safe via the same
    dynamic overwrite, and immediately consumable by the point-read
    and bloomed-erasure faces."""
    from superstore_data_pipeline_analytics_dashboard__spark.sources.bloom import (
        bloom_candidates,
        load_bloom_store,
        read_bloom_pruned,
    )

    drop = tmpdir / "in"
    # hash-scattered ids per micro-batch file: a RANDOM layout, where
    # zone-map envelopes admit everything and only the bloom can prune
    rows = [(i, i % 7) for i in range(0, 300)]
    for i in range(3):
        spark.createDataFrame(
            [r for r in rows if (r[0] * 2654435761) % 3 == i],
            "id BIGINT, v BIGINT",
        ).coalesce(1).write.parquet(str(drop / f"b{i}"))

    def run(ck):
        stream = (
            spark.readStream.schema("id BIGINT, v BIGINT")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(str(drop))
        )
        return S.start_append_with_manifest(
            stream,
            str(tmpdir / "sink"),
            str(tmpdir / "manifest"),
            ck,
            stat_cols=["id"],
            bloom_cols=["id"],
            bloom_path=str(tmpdir / "bloom"),
            bloom_n_bits=1 << 16,
        )

    run(str(tmpdir / "ck")).awaitTermination(120)
    blooms = load_bloom_store(spark, str(tmpdir / "bloom"), "id")
    assert blooms.count() == 3
    # every present key is a candidate in its true batch; the scattered
    # layout still prunes (one key lives in exactly one batch)
    probe = spark.createDataFrame([(17,), (202,)], "id BIGINT")
    cand = bloom_candidates(
        blooms, probe, "id"
    ).collect()
    sinkdf = spark.read.option("basePath", str(tmpdir / "sink")).parquet(
        str(tmpdir / "sink")
    )
    truth = {
        (int(r["batch"]), int(r["id"]))
        for r in sinkdf.filter(F.col("id").isin(17, 202)).select(
            "batch", "id"
        ).collect()
    }
    got = {(int(r["batch"]), int(r["id"])) for r in cand}
    assert truth <= got and len(got) <= 4
    pruned = read_bloom_pruned(
        spark,
        str(tmpdir / "sink"),
        blooms,
        "id",
        [17, 202],
    )
    assert sorted(r["id"] for r in pruned.collect()) == [17, 202]
    # replay: a fresh checkpoint re-lands every batch with new files —
    # the bloom store must be REPLACED per batch, not appended
    run(str(tmpdir / "ck2")).awaitTermination(120)
    blooms2 = load_bloom_store(spark, str(tmpdir / "bloom"), "id")
    assert blooms2.count() == 3
    # a never-bloomed column is refused, not silently prune-everything
    import pytest

    with pytest.raises(ValueError, match="no summaries"):
        load_bloom_store(spark, str(tmpdir / "bloom"), "typo")


def test_quota_fill_append_respects_budget_across_batches(spark, tmpdir):
    """Streaming quota fill: per-source admitted tokens never exceed the
    quota across micro-batches; within each batch the admitted docs are
    the hash-order prefix that fits the remaining budget; the persisted
    state sums to the sink's token total."""
    import hashlib

    drop = tmpdir / "docs_q"
    drop.mkdir()
    # 3 files -> 3 micro-batches (maxFilesPerTrigger=1); disjoint id
    # ranges so sink partitions identify their source file. Every doc
    # is 10 tokens; quota 70 -> batch0 keeps all 5 (50), batch1 keeps
    # its 2 lowest-md5 docs (70), batch2 keeps none.
    ten_words = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    files = [list(range(0, 5)), list(range(10, 15)), list(range(20, 25))]
    for i, ids in enumerate(files):
        spark.createDataFrame(
            [(d, "s", ten_words) for d in ids],
            "doc_id BIGINT, source STRING, text STRING",
        ).coalesce(1).write.parquet(str(drop / f"f{i}"))

    stream = (
        spark.readStream.schema("doc_id BIGINT, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(str(drop))
    )
    sink, state = str(tmpdir / "quota_sink"), str(tmpdir / "quota_state")
    q = S.start_quota_fill_append(
        stream, sink, state, str(tmpdir / "ckq"), quota=70
    )
    q.awaitTermination(120)

    kept = spark.read.parquet(sink).collect()
    total = sum(r["n_tok"] for r in kept)
    assert total <= 70
    assert total == 70  # exactly fills: 50 + 20
    by_batch: dict = {}
    for r in kept:
        by_batch.setdefault(r["batch"], set()).add(r["doc_id"])
    batches = sorted(by_batch)
    assert len(by_batch[batches[0]]) == 5  # first file fully admitted
    # second batch: exactly the 2 lowest-md5 ids of its file
    want = sorted(
        files[1], key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
    )[:2]
    assert by_batch[batches[1]] == set(want)
    assert len(batches) == 2  # third batch admitted nothing
    st = spark.read.parquet(state).collect()
    assert sum(r["used"] for r in st) == total


def test_quota_fill_full_replay_does_not_double_spend(spark, tmpdir):
    """A replayed batch must REPLACE its output, not re-spend quota: a
    second run over the same single input file with a FRESH checkpoint
    reuses batch id 0, overwrites the same partitions, and leaves the
    sink row set and state totals exactly as before."""
    drop = tmpdir / "docs_r"
    drop.mkdir()
    ten_words = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    spark.createDataFrame(
        [(d, "s", ten_words) for d in range(4)],
        "doc_id BIGINT, source STRING, text STRING",
    ).coalesce(1).write.parquet(str(drop / "f0"))

    def run(ck):
        stream = (
            spark.readStream.schema("doc_id BIGINT, source STRING, text STRING")
            .option("recursiveFileLookup", True)
            .parquet(str(drop))
        )
        q = S.start_quota_fill_append(
            stream, sink, state, str(tmpdir / ck), quota=25
        )
        q.awaitTermination(120)

    sink, state = str(tmpdir / "sink_r"), str(tmpdir / "state_r")
    run("ck_a")
    first = sorted(
        (r["doc_id"], r["n_tok"]) for r in spark.read.parquet(sink).collect()
    )
    used_first = sum(r["used"] for r in spark.read.parquet(state).collect())
    assert used_first <= 25
    run("ck_b")  # full replay: same file -> same batch id 0
    second = sorted(
        (r["doc_id"], r["n_tok"]) for r in spark.read.parquet(sink).collect()
    )
    used_second = sum(r["used"] for r in spark.read.parquet(state).collect())
    assert second == first
    assert used_second == used_first


def test_profile_append_publishes_per_batch_census(spark, tmpdir):
    """start_profile_append: every landed batch partition has a profile
    partition whose counts/nulls/distincts/min/max equal a direct
    recompute over that partition, and a full replay REPLACES profile
    rows instead of appending stale ones."""
    drop = tmpdir / "in"
    b1 = [(i, "x" if i % 3 else None) for i in range(0, 40)]
    b2 = [(i, "y" if i % 2 else "z") for i in range(40, 100)]
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "id BIGINT, tag STRING").coalesce(
            1
        ).write.parquet(str(drop / f"b{i}"))

    def run(ck):
        stream = (
            spark.readStream.schema("id BIGINT, tag STRING")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(str(drop))
        )
        q = S.start_profile_append(
            stream,
            str(tmpdir / "sink"),
            str(tmpdir / "profile"),
            str(tmpdir / ck),
            profile_cols=["id", "tag"],
        )
        q.awaitTermination(120)

    run("ck")
    prof = spark.read.parquet(str(tmpdir / "profile")).collect()
    batches = {r["batch"] for r in prof}
    assert len(batches) == 2
    for b in batches:
        data = spark.read.parquet(str(tmpdir / f"sink/batch={b}")).collect()
        by_col = {
            r["col_name"]: r for r in prof if r["batch"] == b
        }
        assert set(by_col) == {"id", "tag"}
        ids = [str(r["id"]) for r in data]
        tags = [r["tag"] for r in data]
        assert by_col["id"]["n_rows"] == len(data)
        assert by_col["id"]["n_null"] == 0
        assert by_col["id"]["n_distinct"] == len(set(ids))
        assert by_col["id"]["min_str"] == min(ids)
        assert by_col["id"]["max_str"] == max(ids)
        assert by_col["tag"]["n_null"] == sum(1 for t in tags if t is None)
        assert by_col["tag"]["n_distinct"] == len(
            {t for t in tags if t is not None}
        )

    # replay: fresh checkpoint re-lands both batches; the profile table
    # must hold exactly one census per (batch, column) — no stale rows
    run("ck2")
    prof2 = spark.read.parquet(str(tmpdir / "profile")).collect()
    keys = [(r["batch"], r["col_name"]) for r in prof2]
    assert len(keys) == len(set(keys)) == 4
    assert sum(r["n_rows"] for r in prof2 if r["col_name"] == "id") == 100


def test_heavy_hitters_sink_merges_and_survives_replay(spark, tmpdir):
    """start_heavy_hitters_sink: the merged CMS estimate for every
    candidate is ≥ its true count (one-sided), every key whose TRUE
    total crosses the threshold and was a batch top-k candidate is
    reported, and a full replay leaves the state identical."""
    drop = tmpdir / "hh_in"
    # batch 0: 'a' hot (30), others light; batch 1: 'b' hot (40)
    b0 = [("a",)] * 30 + [(f"x{i}",) for i in range(10)]
    b1 = [("b",)] * 40 + [("a",)] * 5 + [(f"y{i}",) for i in range(10)]
    for i, rows in enumerate((b0, b1)):
        spark.createDataFrame(rows, "k STRING").coalesce(1).write.parquet(
            str(drop / f"b{i}")
        )

    def run(ck):
        stream = (
            spark.readStream.schema("k STRING")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(str(drop))
        )
        q = S.start_heavy_hitters_sink(
            stream,
            "k",
            str(tmpdir / "hh_cms"),
            str(tmpdir / "hh_cand"),
            str(tmpdir / ck),
            k_per_batch=5,
        )
        q.awaitTermination(120)

    run("hh_ck")
    hot = {
        r["cand_key"]: r["est_count"]
        for r in S.read_heavy_hitters(
            spark, str(tmpdir / "hh_cms"), str(tmpdir / "hh_cand"), 20
        ).collect()
    }
    assert set(hot) == {"a", "b"}
    assert hot["a"] >= 35 and hot["b"] >= 40  # one-sided estimates

    # state is bounded: cells ≤ batches·depth·width, candidates ≤ batches·k
    cand_rows = spark.read.parquet(str(tmpdir / "hh_cand")).collect()
    assert len(cand_rows) <= 2 * 5

    run("hh_ck2")  # full replay — same batch ids replace, never append
    hot2 = {
        r["cand_key"]: r["est_count"]
        for r in S.read_heavy_hitters(
            spark, str(tmpdir / "hh_cms"), str(tmpdir / "hh_cand"), 20
        ).collect()
    }
    assert hot2 == hot
    cand_rows2 = spark.read.parquet(str(tmpdir / "hh_cand")).collect()
    assert len(cand_rows2) == len(cand_rows)
