"""Structured Streaming extensions (SURVEY.md §2.12, §7 step 10).

The reference is batch-only; its natural streaming surfaces are:

* incremental fact append — S5's idempotent NOT-EXISTS append becomes
  ``dropDuplicates`` on the line key with a watermark (exactly-once per
  key within the lateness window) + foreachBatch left-anti against the
  sink for keys older than the watermark;
* windowed QA counters — A3's rule counts as sliding-window aggregates;
* sessionization — classic stateful stream op over the events table
  (gap-based sessions via session_window; no Python state needed).

All sources are schema'd file streams (parquet) so the same code runs on
a directory drop-zone locally and on cloud object storage at scale.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..sources.bloom import _N_BITS
from ..sources.manifest import replace_batches

#: file schema: ts is TIMESTAMP_NTZ on disk (the batch catalog's
#: load_table contract). Watermarks REQUIRE an instant TIMESTAMP
#: ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]), so read_event_stream pins
#: the UTC wall clock to an instant via pure epoch arithmetic — never an
#: NTZ→TIMESTAMP cast, which resolves in the (unknown) session timezone.
EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def read_event_stream(
    spark: SparkSession, path: str, schema: str = EVENTS_SCHEMA
) -> DataFrame:
    """File-drop event stream (one parquet file per micro-batch input).
    ``ts`` leaves as an instant TIMESTAMP (UTC wall clock pinned via
    epoch micros) so watermarks/windows accept it on any session."""
    df = spark.readStream.schema(schema).parquet(path)
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


def dedup_stream(
    events: DataFrame,
    keys: list[str] = ("event_id",),
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> DataFrame:
    """W1-as-a-stream: watermark + dropDuplicates on the natural key.
    State is bounded by the watermark (keys older than `lateness` are
    evicted — the batch left-anti in `start_idempotent_append` covers
    replays beyond it)."""
    return events.withWatermark(ts_col, lateness).dropDuplicates(list(keys))


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: Sequence[str] = ("user_id", "event_type"),
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — dedup on a BUSINESS key whose
    duplicates arrive with *different* event times (retries, at-least-once
    producers re-stamping on send). Plain ``dropDuplicates`` would treat
    each re-stamp as distinct when the event time is part of the key, and
    with the time excluded it could never evict state; the
    within-watermark variant keeps a key's state only until the watermark
    passes its first-seen time + delay, so duplicates inside the lateness
    window collapse and state stays bounded. Use ``dedup_stream`` when a
    stable unique id (event_id) exists; use this when only the business
    key is stable."""
    return events.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
        list(keys)
    )


def throttle_stream(
    events: DataFrame,
    keys: Sequence[str] = ("user_id", "event_type"),
    window: str = "10 minutes",
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> DataFrame:
    """Repeat collapse / rate limiting: at most ONE surviving event per
    key per tumbling window (alert-storm suppression, notification
    throttling). The first event of each (key, window) group is picked
    with a min-over-struct aggregate — a stateful windowed agg whose
    state the watermark evicts, same bound as ``windowed_counts``.
    Batch twin: catalog q100_event_throttle (oracled)."""
    first = F.min(F.struct(ts_col, "event_id")).alias("first")
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window).alias("win"), *[F.col(k) for k in keys])
        .agg(first, F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            *keys,
            F.col("n_events"),
            F.col(f"first.{ts_col}").alias("first_ts"),
            F.col("first.event_id").alias("first_event_id"),
        )
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> DataFrame:
    """A3-as-a-stream: per-window, per-type counts + value sums with late
    data handled by the watermark."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(win.alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization per user via session_window — the built-in
    stateful operator (no applyInPandasWithState needed for gap sessions;
    use that only for custom state machines)."""
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min(ts_col).alias("first_event"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
            "first_event",
            "last_event",
        )
    )


def cumulative_threshold_alerts(
    events: DataFrame,
    threshold: float = 100.0,
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: emit one
    alert row each time a user's CUMULATIVE value crosses another multiple
    of `threshold`. This is a genuine state machine — neither windowed
    aggregation nor session_window expresses "running total across the
    whole stream with emission on crossings", so this is the documented
    escape hatch (Arrow-batched; state = one row per user).

    State: (cum_value double, n_alerts int). Emits
    (user_id, alert_no, cum_value, crossed_at)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            cum, n_alerts = state.get
        else:
            cum, n_alerts = 0.0, 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for v, ts in zip(pdf["value"], pdf["ts"]):
                cum += float(v)
                while cum >= (n_alerts + 1) * threshold:
                    n_alerts += 1
                    out.append((user_id, n_alerts, cum, ts))
        state.update((cum, n_alerts))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "alert_no", "cum_value", "crossed_at"]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id BIGINT, alert_no INT, cum_value DOUBLE, "
                         "crossed_at TIMESTAMP",
        stateStructType="cum_value DOUBLE, n_alerts INT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_purchase_attribution(
    events: DataFrame,
    within_seconds: int = 3600,
    lateness: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every click
    by the same user in the preceding ``within_seconds`` window (the
    streaming twin of the batch as-of join in q46 — that one keeps only
    the latest click; a streaming as-of needs the candidate set first,
    which is exactly this join).

    Both inputs carry a watermark and the join condition bounds
    ``purchase_ts`` to ``[click_ts, click_ts + within]``, so Spark can
    evict click state once the purchase watermark passes
    ``click_ts + within`` and purchase state once the click watermark
    passes ``purchase_ts`` — bounded state on BOTH sides, the requirement
    for running this unbounded at scale."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", lateness)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", lateness)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
        )
    )
    return clicks.join(purchases, cond, "inner").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def _run_batches(
    writer: DataStreamWriter,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Start a sink: run ``fn(batch, batch_id)`` on every micro-batch
    of ``writer``'s stream, checkpointed at ``checkpoint``, draining
    what is available now and then stopping. Every ``start_*`` sink
    starts here."""
    return (
        writer.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None while it does not exist
    yet (the first batch). ONLY a missing path selects the first-batch
    path; any other read failure (corrupt footer, transient storage
    error) aborts the batch — swallowing it would, say, skip the
    idempotent append's anti-join and append duplicates into an
    exactly-once sink."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None


def start_rollup_maintenance(
    events: DataFrame,
    sink_path: str,
    checkpoint: str,
    keys: Sequence[str] = ("event_type",),
) -> StreamingQuery:
    """Incrementally-maintained serving rollup — the streaming form of the
    reference's pivot cache (SURVEY.md §3.3): a per-key (count, sum)
    table kept current as events arrive, so dashboard reads never touch
    the fact.

    The unwatermarked groupBy keeps running totals per key; with
    ``update`` output each micro-batch delivers only the keys that
    changed, and foreachBatch merges them into the parquet serving table
    (replace-changed-keys = read sink, anti-join the updated keys, union,
    rewrite). On Delta/Iceberg the merge becomes ``MERGE INTO`` and the
    rewrite disappears; on plain parquet the serving table is small by
    construction (it's a rollup), so the rewrite is cheap at any fact
    scale. State is one row per key — bounded by rollup cardinality, not
    by the stream."""
    rollup = events.groupBy(*keys).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )

    key_cols = list(keys)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        current = _read_existing(batch.sparkSession, sink_path)
        merged = (
            batch
            if current is None
            else current.join(
                batch.select(*key_cols), key_cols, "left_anti"
            ).unionByName(batch)
        )
        # materialize BEFORE overwriting the path being read
        merged.localCheckpoint().write.mode("overwrite").parquet(sink_path)

    return _run_batches(
        rollup.writeStream.outputMode("update"), _merge, checkpoint
    )


def start_idempotent_append(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    keys: list[str] = ("event_id",),
) -> StreamingQuery:
    """S5-as-a-stream: exactly-once-per-key append. In-window dupes are
    dropped by dedup_stream upstream; each micro-batch also left-antis
    against the sink so replays beyond the watermark stay idempotent
    (the reference's NOT EXISTS, per batch)."""

    def _append(batch: DataFrame, batch_id: int) -> None:
        existing = _read_existing(batch.sparkSession, sink_path)
        fresh = (
            batch
            if existing is None
            else batch.join(
                existing.select(*keys).distinct(), list(keys), "left_anti"
            )
        )
        fresh.write.mode("append").parquet(sink_path)

    return _run_batches(stream.writeStream, _append, checkpoint)


def start_content_dedup_append(
    docs_stream: DataFrame,
    sink_path: str,
    fp_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Streaming corpus ingestion with CONTENT dedup: each micro-batch
    runs ``incremental_dedup.exact_increment`` against a persisted
    fingerprint table, appends the surviving docs to the corpus sink and
    their fingerprints to the state table — the streaming face of the
    daily-crawl increment.

    The state read per batch is the FINGERPRINT table (16-byte md5
    rows), never the corpus itself, so batch cost is ∝ batch + |state
    keys| with the state scan a single narrow column. Both writes are
    plain appends (partition-per-batch at scale); a batch replayed after
    a checkpoint reset re-deduplicates against the state and appends
    nothing — content idempotency, stronger than the id-based
    ``start_idempotent_append`` (a re-crawled page with a NEW id but the
    same text is still dropped)."""
    from ..operators.incremental_dedup import exact_increment

    def _append(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        state = _read_existing(spark, fp_path)
        if state is None:
            state = spark.createDataFrame([], "fingerprint STRING")
        out = exact_increment(batch, state, id_col=id_col, text_col=text_col)
        kept = out["kept"].localCheckpoint()
        kept.write.mode("append").parquet(sink_path)
        from ..functions.text import fingerprint

        kept.select(fingerprint(text_col).alias("fingerprint")).distinct().write.mode(
            "append"
        ).parquet(fp_path)

    return _run_batches(docs_stream.writeStream, _append, checkpoint)


def start_append_with_manifest(
    stream: DataFrame,
    sink_path: str,
    manifest_path: str,
    checkpoint: str,
    stat_cols: list[str],
    bloom_cols: list[str] | None = None,
    bloom_path: str | None = None,
    bloom_n_bits: int = _N_BITS,
) -> StreamingQuery:
    """Streaming append that MAINTAINS the zone-map manifest as it
    writes — the incremental face of ``sources/manifest.py`` (which
    documents its manifest as "a saved table that incremental loads
    append to"; this is that load).

    Each micro-batch lands in its own ``batch=<id>`` partition
    directory, then per-file min/max stats are collected from THAT
    directory only and written to the manifest table's matching
    ``batch`` partition — per-batch manifest cost is ∝ the batch's file
    count, never a rescan of the table, and the sink's readers get
    range-pruned file lists that stay current without a compaction
    pass. Replay safety: a replayed batch (retry before checkpoint
    commit) overwrites its data partition with NEW parquet file names
    (writer UUIDs), so its manifest rows must be REPLACED, not appended
    — plain append would leave rows pointing at deleted files and
    pruned reads would crash on PATH_NOT_FOUND. Dynamic partition
    overwrite on the manifest's ``batch`` key replaces exactly the
    replayed batch's rows and leaves every other batch's untouched.

    ``bloom_cols``/``bloom_path`` (optional, r10) additionally maintain
    a per-batch Bloom store (``sources/bloom.py``) alongside the zone
    maps — one self-describing summary row (key column, key type,
    geometry, key count, positions) per bloomed column per batch,
    collected in ONE scan regardless of how many columns are bloomed
    and landed with the same dynamic-overwrite replay discipline.
    Maintaining blooms AT LAND TIME is what satisfies the bloom
    currency contract ``retention.erase_rows`` documents: the store is
    rebuilt with every append by construction, so point-lookup pruning
    (and bloom-confined erasure on random layouts) never reads a
    summary older than the data. Read it back per column with
    ``bloom.load_bloom_store``."""
    from ..sources.bloom import bloom_summary_rows
    from ..sources.manifest import write_batch_stats

    if bloom_cols and bloom_path is None:
        raise ValueError(
            "start_append_with_manifest: bloom_cols given without a "
            "bloom_path to land the summaries in"
        )

    def _append(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        part_dir = f"{sink_path}/batch={batch_id}"
        batch.write.mode("overwrite").parquet(part_dir)
        write_batch_stats(
            spark, sink_path, manifest_path, batch_id, stat_cols
        )
        if bloom_cols:
            # ONE scan collects every bloomed column's summary row
            # (per-row struct-array explode — land time does not
            # multiply with the number of bloomed columns, r11), with
            # the self-describing metadata bloom_candidates hashes
            # probes under
            part = spark.read.parquet(part_dir)
            rows = bloom_summary_rows(part, list(bloom_cols), bloom_n_bits)
            replace_batches(rows.withColumn("batch", F.lit(batch_id)), bloom_path)

    return _run_batches(stream.writeStream, _append, checkpoint)


def start_quota_fill_append(
    docs_stream: DataFrame,
    sink_path: str,
    state_path: str,
    checkpoint: str,
    quota: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> StreamingQuery:
    """Streaming token-quota fill — the ONLINE face of the q123 batch
    fill: each micro-batch admits documents per source, in the same
    deterministic md5-hash order q123 uses WITHIN the batch, while the
    source's running token total (persisted state + this batch) still
    fits ``quota``; admitted docs land in the corpus sink, and the
    per-source token delta lands in the state table.

    Online-vs-batch semantics (the q107/q108 contract, quota edition):
    admission is greedy in ARRIVAL order across batches — a later
    batch only sees the quota its predecessors left, so the kept set
    equals q123's batch fill exactly when arrival order matches hash
    order, and is otherwise the standard online-greedy approximation.
    The invariant that always holds: per-source admitted tokens never
    exceed ``quota``, and within every batch the admitted docs are the
    hash-order prefix that fits.

    Scale & replay: the state read per batch is the (sources x batches)
    delta table, never the corpus; the within-batch cumsum is
    ``recipe.hash_order_cumsum`` (sharded two-phase — no partition-per-
    source straggler even inside one giant batch). Both writes go to
    ``batch=<id>`` partitions with dynamic overwrite, and the state
    read EXCLUDES the current batch id — so a replayed batch recomputes
    against exactly the pre-batch state and REPLACES its own output
    instead of double-spending the quota (the manifest sink's replay
    discipline applied to budget state)."""
    from ..functions.text import token_count
    from ..operators.recipe import hash_order_cumsum

    def _append(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        state = _read_existing(spark, state_path)
        used = (
            spark.createDataFrame([], f"{source_col} STRING, __used BIGINT")
            if state is None
            else state.filter(F.col("batch") != F.lit(batch_id))
            .groupBy(source_col)
            .agg(F.sum("used").alias("__used"))
        )
        staged = batch.select(
            source_col,
            id_col,
            token_count(text_col).cast("bigint").alias("n_tok"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        cum = hash_order_cumsum(
            staged, group_cols=(source_col,), id_col=id_col
        )
        kept = (
            cum.join(F.broadcast(used), source_col, "left")
            .filter(
                F.col("cum_tok") + F.coalesce(F.col("__used"), F.lit(0))
                <= F.lit(quota)
            )
            .select(source_col, id_col, "n_tok")
            .localCheckpoint()
        )
        replace_batches(kept.withColumn("batch", F.lit(batch_id)), sink_path)
        delta = kept.groupBy(source_col).agg(F.sum("n_tok").alias("used"))
        replace_batches(delta.withColumn("batch", F.lit(batch_id)), state_path)

    return _run_batches(docs_stream.writeStream, _append, checkpoint)


def start_profile_append(
    stream: DataFrame,
    sink_path: str,
    profile_path: str,
    checkpoint: str,
    profile_cols: Sequence[str],
) -> StreamingQuery:
    """Streaming append that PUBLISHES a per-batch column profile next
    to the data — the streaming face of the q160 census / q175 drift
    report: each micro-batch lands in its own ``batch=<id>`` partition
    and its rows/nulls/exact-distinct/min/max per profiled column land
    in the profile table's matching ``batch`` partition, so a drift
    monitor diffs two SOURCES-SIZED profile partitions instead of
    rescanning data. The batch is persisted across the data write and
    the per-column aggregates (one scan, not 1+|cols| re-reads of the
    source). Replay safety follows start_append_with_manifest: a
    replayed batch overwrites its data partition wholesale, so its
    profile rows are REPLACED via dynamic partition overwrite on the
    ``batch`` key — never appended."""

    def _append(batch: DataFrame, batch_id: int) -> None:
        part_dir = f"{sink_path}/batch={batch_id}"
        batch.persist()
        try:
            batch.write.mode("overwrite").parquet(part_dir)
            parts = []
            for c in profile_cols:
                v = F.col(c).cast("string")
                parts.append(
                    batch.select(v.alias("v")).agg(
                        F.lit(c).alias("col_name"),
                        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
                        .cast("bigint")
                        .alias("n_null"),
                        F.count_distinct(F.col("v"))
                        .cast("bigint")
                        .alias("n_distinct"),
                        F.min("v").alias("min_str"),
                        F.max("v").alias("max_str"),
                    )
                )
            prof = parts[0]
            for p in parts[1:]:
                prof = prof.unionByName(p)
            replace_batches(prof.withColumn("batch", F.lit(batch_id)), profile_path)
        finally:
            batch.unpersist()

    return _run_batches(stream.writeStream, _append, checkpoint)


def start_heavy_hitters_sink(
    stream: DataFrame,
    key_col: str,
    cms_path: str,
    cand_path: str,
    checkpoint: str,
    width: int = 2048,
    depth: int = 4,
    k_per_batch: int = 20,
) -> StreamingQuery:
    """Streaming heavy-hitters maintenance — the micro-batch form of
    the classic CMS + candidate-heap stream algorithm (the streaming
    face of q80): per batch, the key column's count-min sketch cells
    and the batch's top-``k_per_batch`` keys land in their own
    ``batch=<id>`` partitions. State is APPEND-ONLY and mergeable —
    CMS cells merge by cell-wise re-sum, candidates by distinct-union
    (the incremental_dedup.py state discipline), so the maintained
    state is ∝ batches·(depth·width + k), independent of stream
    volume, and readers never rescan the stream. Replay-safe the
    start_append_with_manifest way: a replayed batch id REPLACES its
    two partitions via dynamic partition overwrite, never appends.
    ``read_heavy_hitters`` merges and probes: a key's estimate is the
    min over depth rows of its merged cells — every candidate that
    any batch surfaced, scored against the WHOLE stream's sketch."""
    from ..operators.sketches import cms_table

    def _append(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            cms = cms_table(batch, key_col, width=width, depth=depth)
            replace_batches(cms.withColumn("batch", F.lit(batch_id)), cms_path)
            top = (
                batch.groupBy(F.col(key_col).alias("cand_key"))
                .agg(F.count("*").alias("batch_cnt"))
                .orderBy(F.desc("batch_cnt"), F.asc("cand_key"))
                .limit(k_per_batch)
            )
            replace_batches(top.withColumn("batch", F.lit(batch_id)), cand_path)
        finally:
            batch.unpersist()

    return _run_batches(stream.writeStream, _append, checkpoint)


def start_grouped_topk_sink(
    stream: DataFrame,
    group_cols: list[str],
    key_col: str,
    state_path: str,
    checkpoint: str,
    max_items_tracked: int = 10000,
) -> StreamingQuery:
    """Streaming maintenance of grouped top-k — the micro-batch face of
    ``operators/topk.py``'s mergeable-state rollup, shaped exactly like
    ``start_heavy_hitters_sink`` but with ONE self-contained sketch row
    per group per batch (DataSketches frequent-items state) instead of
    CMS cells + a candidate side table.

    Per batch: ``topk_state`` aggregates one ``approx_top_k_accumulate``
    row per group (bounded by ``max_items_tracked``, partial-combined
    map-side) and lands it in the batch's own ``batch=<id>`` partition.
    State grows ∝ batches·groups sketch rows — independent of stream
    volume — and is replay-safe the start_append_with_manifest way: a
    replayed batch id REPLACES its partition via dynamic partition
    overwrite, never appends. ``read_grouped_topk`` rolls the state rows
    up (``approx_top_k_combine``) without ever rescanning the stream."""
    from ..operators.topk import topk_state

    def _append(batch: DataFrame, batch_id: int) -> None:
        st = topk_state(batch, group_cols, key_col, max_items_tracked)
        replace_batches(st.withColumn("batch", F.lit(batch_id)), state_path)

    return _run_batches(stream.writeStream, _append, checkpoint)


def read_grouped_topk(
    spark: SparkSession,
    state_path: str,
    group_cols: list[str],
    k: int,
    max_items_tracked: int = 10000,
) -> DataFrame:
    """Top-k per group from the maintained state table alone — cost ∝
    state rows (batches·groups), never the stream. Estimates are exact
    while each group's distinct keys fit ``max_items_tracked`` (the
    topk module's exact-mode contract, pinned stream==batch in tests)."""
    from ..operators.topk import topk_from_states

    return topk_from_states(
        spark.read.parquet(state_path), group_cols, k, max_items_tracked
    )


def read_heavy_hitters(
    spark: SparkSession,
    cms_path: str,
    cand_path: str,
    threshold: int,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Merge the per-batch CMS partitions (cell-wise re-sum) and probe
    every candidate key ever surfaced; keep estimates ≥ threshold.
    Returns (cand_key, est_count) — estimates are one-sided (≥ true
    count), the q80 CMS contract."""
    from ..operators.sketches import cms_probe

    merged = (
        spark.read.parquet(cms_path)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cands = spark.read.parquet(cand_path).select("cand_key").distinct()
    est = cms_probe(merged, cands, "cand_key", width=width, depth=depth)
    return est.filter(F.col("est_count") >= threshold).select(
        F.col("probe_key").alias("cand_key"), "est_count"
    )
