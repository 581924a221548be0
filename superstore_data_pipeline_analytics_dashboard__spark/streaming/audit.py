"""Exactly-once sink audits — prove (or indict) a streaming sink's
delivery semantics after the fact.

Every foreachBatch sink in :mod:`streaming.incremental` claims an
idempotency story (left-anti on keys, content fingerprints, dynamic
partition overwrite per batch). Those claims hold only if the replay
path actually exercises them — and the failure modes (a retry between
sink write and checkpoint commit, a checkpoint reset, a manifest
append where an overwrite was needed) corrupt SILENTLY: row counts
drift by fractions of a percent and nothing crashes. At 100 TB nobody
re-derives the sink to check; the audit has to be a bounded query.
These two are:

* :func:`exactly_once_audit` — source-vs-sink delivery ledger at key
  grain. Both sides collapse to per-key counts (map-side combined, one
  shuffle each of the DISTINCT key space — scope the frames to the
  window you ingested if keys are unbounded), one full-outer join, one
  global rollup. Every output is an exact integer; the report is
  SQL-expressible end-to-end — the r9 oracle candidate.
* :func:`manifest_consistency_audit` — filesystem grain, for the
  manifest-maintaining sink: on-disk data files vs manifest rows, both
  as DataFrames (the disk side enumerates files via
  ``input_file_name`` over a zero-data-column scan, so it reads
  footers, not data). Catches exactly the replay bug class
  ``start_append_with_manifest`` documents (stale rows pointing at
  replaced files) plus its dual (landed files the manifest never
  enveloped) and content drift (n_rows disagreeing with what the
  manifest recorded).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["exactly_once_audit", "manifest_consistency_audit"]


def exactly_once_audit(
    source: DataFrame,
    sink: DataFrame,
    key_cols: Sequence[str],
    expect: str = "all_rows",
) -> DataFrame:
    """One-row delivery ledger: did ``sink`` receive ``source`` exactly
    once?

    ``expect`` declares the sink's contract:

    * ``"all_rows"`` — plain append sinks: every source row lands once,
      so per key the sink count must EQUAL the source count.
    * ``"once_per_key"`` — deduplicating sinks (idempotent append,
      content dedup): each source key lands exactly once regardless of
      how often the source repeats it.

    Output (all exact integers + one boolean):
    ``n_source_rows, n_source_keys, n_sink_rows, n_sink_keys,
    n_over_keys/n_over_rows`` (keys delivered more than contracted and
    the surplus row volume — the double-delivery signature),
    ``n_under_keys/n_under_rows`` (under-delivery — dropped batches),
    ``n_unexpected_keys`` (sink keys the source never contained —
    cross-feed contamination or a sink path collision), and
    ``exactly_once`` = every violation count is zero."""
    if expect not in ("all_rows", "once_per_key"):
        raise ValueError(f"expect must be all_rows|once_per_key, got {expect!r}")
    keys = list(key_cols)
    src = source.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_src")).alias("s")
    snk = sink.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_snk")).alias("t")
    # null-safe equality: groupBy keeps NULL as a real key group on both
    # sides, so the join must match it too — a name-list join (NULL !=
    # NULL) would split one correctly-delivered NULL key into an
    # under-delivery AND an unexpected-key, indicting a correct sink
    cond = None
    for kc in keys:
        c = F.col(f"s.{kc}").eqNullSafe(F.col(f"t.{kc}"))
        cond = c if cond is None else cond & c
    j = src.join(snk, cond, "full_outer").select(
        F.coalesce("n_src", F.lit(0)).alias("n_src"),
        F.coalesce("n_snk", F.lit(0)).alias("n_snk"),
    )
    want = (
        F.col("n_src")
        if expect == "all_rows"
        else F.when(F.col("n_src") > 0, F.lit(1)).otherwise(F.lit(0))
    )
    j = j.withColumn("want", want)
    over = F.greatest(F.col("n_snk") - F.col("want"), F.lit(0))
    under = F.greatest(F.col("want") - F.col("n_snk"), F.lit(0))
    # coalesce every aggregate: an empty-vs-empty audit (a window with
    # no traffic) must report zeros and exactly_once=true, not NULLs
    z = lambda c, n: F.coalesce(c, F.lit(0)).alias(n)  # noqa: E731
    rep = j.agg(
        z(F.sum("n_src"), "n_source_rows"),
        z(F.sum((F.col("n_src") > 0).cast("long")), "n_source_keys"),
        z(F.sum("n_snk"), "n_sink_rows"),
        z(F.sum((F.col("n_snk") > 0).cast("long")), "n_sink_keys"),
        z(
            F.sum(((F.col("n_src") > 0) & (over > 0)).cast("long")),
            "n_over_keys",
        ),
        z(
            F.sum(F.when(F.col("n_src") > 0, over).otherwise(F.lit(0))),
            "n_over_rows",
        ),
        z(F.sum((under > 0).cast("long")), "n_under_keys"),
        z(F.sum(under), "n_under_rows"),
        z(
            F.sum(((F.col("n_src") == 0) & (F.col("n_snk") > 0)).cast("long")),
            "n_unexpected_keys",
        ),
    )
    return rep.withColumn(
        "exactly_once",
        (F.col("n_over_rows") == 0)
        & (F.col("n_under_rows") == 0)
        & (F.col("n_unexpected_keys") == 0),
    )


def _disk_vs_manifest(
    spark: SparkSession, sink_path: str, man: DataFrame
) -> DataFrame:
    """What is on disk against what the manifest ``man`` records, one
    row per (batch, basename): a full-outer join of every parquet
    file's actual row count (an ``input_file_name`` rollup whose scan
    reads zero data columns) with the manifest's ``n_rows``. Columns:
    ``batch``, ``fname``, ``file`` (the disk URI, NULL for a manifest
    row whose file is gone), ``disk_rows`` and ``manifest_rows`` (NULL
    on the side that lacks the file). The audit aggregates it;
    ``retention.repair_manifest`` filters it. The disk side is grouped
    on the join keys themselves, so its shuffle also partitions the
    join (grouped by ``file``, the join would shuffle it again)."""
    base = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
    disk = (
        spark.read.option("basePath", sink_path)
        .parquet(sink_path)
        .select("batch", F.input_file_name().alias("file"))
        .groupBy(
            F.col("batch").cast("long").alias("batch"),
            base(F.col("file")).alias("fname"),
        )
        .agg(
            F.max("file").alias("file"),
            F.count(F.lit(1)).alias("disk_rows"),
        )
    )
    rec = man.select(
        F.col("batch").cast("long").alias("batch"),
        base(F.col("file")).alias("fname"),
        F.col("n_rows").alias("manifest_rows"),
    )
    return disk.join(rec, ["batch", "fname"], "full_outer")


def manifest_consistency_audit(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> DataFrame:
    """One-row filesystem audit of a manifest-maintained sink
    (:func:`streaming.incremental.start_append_with_manifest`).

    Aggregates :func:`_disk_vs_manifest`: what is ON DISK (every
    parquet file under ``sink_path`` with its actual row count) against
    what the MANIFEST claims (one row per enveloped file with its
    recorded ``n_rows``), full-outer on the file name (basename —
    writer UUIDs make it unique; comparing full URIs would false-alarm
    on scheme differences).

    Output: ``n_data_files, n_manifest_files,``
    ``n_stale_manifest_rows`` (manifest points at a file no longer on
    disk — the replayed-batch append-instead-of-overwrite bug),
    ``n_unenveloped_files`` (file on disk the manifest never recorded —
    crash between data write and manifest write),
    ``n_row_mismatches`` (both present but row counts disagree — stats
    collected from a different write than what survived), and
    ``consistent`` = all three violation counts are zero. Readers can
    trust manifest-pruned reads iff ``consistent``.

    The identity key is (batch, basename), NOT the basename alone: a
    single multi-partition write reuses one task's file name across
    every ``batch=N`` dir it touches (``part-00000-<job-uuid>`` lands
    in each), so basenames are only unique WITHIN a batch directory —
    a basename-only join would cross-match those twins and false-alarm
    row mismatches on a perfectly consistent sink (r11)."""
    j = _disk_vs_manifest(
        spark, sink_path, spark.read.parquet(manifest_path)
    )
    rep = j.agg(
        F.sum(F.col("disk_rows").isNotNull().cast("long")).alias("n_data_files"),
        F.sum(F.col("manifest_rows").isNotNull().cast("long")).alias(
            "n_manifest_files"
        ),
        F.sum(F.col("disk_rows").isNull().cast("long")).alias(
            "n_stale_manifest_rows"
        ),
        F.sum(F.col("manifest_rows").isNull().cast("long")).alias(
            "n_unenveloped_files"
        ),
        F.sum(
            (
                F.col("disk_rows").isNotNull()
                & F.col("manifest_rows").isNotNull()
                & (F.col("disk_rows") != F.col("manifest_rows"))
            ).cast("long")
        ).alias("n_row_mismatches"),
    )
    return rep.withColumn(
        "consistent",
        (F.col("n_stale_manifest_rows") == 0)
        & (F.col("n_unenveloped_files") == 0)
        & (F.col("n_row_mismatches") == 0),
    )
