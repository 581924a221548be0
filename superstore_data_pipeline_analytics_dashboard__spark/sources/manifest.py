"""File-level zone-map manifest: per-file min/max column statistics and
manifest-driven file pruning.

At 100 TB a table is tens of thousands of parquet files; partition
pruning eliminates directories, but range predicates on NON-partition
columns (an id range, a date inside an unpartitioned table, a z-order
key band) still scan every file unless something knows each file's
value bounds.  Lakehouse formats keep these bounds in table metadata
(Delta's `stats` on add-actions, Iceberg's manifest files); for plain
parquet directories this module materializes the same thing as a tiny
DataFrame — the poor-engine's manifest — and uses it to turn a range
predicate into an explicit file list for `spark.read.parquet(*files)`.

Pairs with `functions/zorder.py`: a z-ordered write clusters value
ranges per file, which is exactly what makes these zone maps selective
(a random layout gives every file near-global bounds and prunes
nothing — the test demonstrates both regimes).

Scale shape: stats collection is one narrow scan — `input_file_name()`
groupBy with min/max partial-aggregated map-side; the manifest is
#files rows and lives comfortably as a broadcast or a saved table that
incremental loads append to (new files only — the same append-only
discipline as the incremental-dedup state).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "collect_file_stats",
    "file_stats",
    "prune_files",
    "read_pruned",
    "replace_batches",
    "write_batch_stats",
]


def file_stats(
    df: DataFrame, stat_cols: Sequence[str], like: StructType | None = None
) -> DataFrame:
    """The manifest's per-file row, defined once: one ``input_file_name()``
    group-by of ``df`` keyed on ``file`` (plus ``batch`` when the frame
    has it) yielding ``n_rows`` and ``min_<c>``/``max_<c>`` for each of
    ``stat_cols``. Every manifest writer builds its rows here.

    ``like`` (a manifest's schema) makes the rows land in an existing
    manifest: a stat column ``df`` lacks (a batch written before the
    column was added) comes back as typed NULLs, and every column is
    cast to ``like``'s type, in ``like``'s order. Without ``like`` an
    absent stat column raises."""
    keys = ["file", *(["batch"] if "batch" in df.columns else [])]
    present = [c for c in stat_cols if like is None or c in df.columns]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in present:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    stats = (
        df.select(F.input_file_name().alias("file"), *keys[1:], *present)
        .groupBy(*keys)
        .agg(*aggs)
    )
    if like is None:
        return stats
    return stats.select(
        *(
            (F.col(f.name) if f.name in stats.columns else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in like.fields
        )
    )


def collect_file_stats(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """One row per data file: row count + min/max for each of ``cols``.

    Columns produced: ``file``, ``n_rows``, ``min_<c>`` / ``max_<c>``
    per requested column.  Column pruning applies — only ``cols`` are
    read, so collection cost is a narrow scan of the stats columns.
    """
    return file_stats(spark.read.parquet(path), cols)


def write_batch_stats(
    spark: SparkSession,
    sink: str,
    manifest: str,
    batch_id: int,
    stat_cols: Sequence[str],
) -> None:
    """Land the manifest rows of ONE batch: ``collect_file_stats`` over
    ``<sink>/batch=<batch_id>`` tagged with its ``batch``, written with
    dynamic partition overwrite on the manifest's ``batch`` key. A
    replayed batch replaces exactly its own rows (plain append would
    leave rows pointing at files the replay deleted), and every other
    batch's rows stay untouched. The one writer of per-batch manifest
    rows: the streaming appender and every sink fixture call it."""
    replace_batches(
        collect_file_stats(
            spark, f"{sink}/batch={batch_id}", stat_cols
        ).withColumn("batch", F.lit(batch_id)),
        manifest,
    )


def replace_batches(df: DataFrame, path: str) -> None:
    """Land ``df`` at ``path`` partitioned by ``batch``, replacing the
    partitions of exactly the batches ``df`` holds and leaving every
    other batch untouched (dynamic partition overwrite; Spark's default
    static overwrite would wipe the whole table). The one writer of a
    per-batch derived table — manifest, Bloom store, profile, sketch
    and quota state — so a replayed or refreshed batch replaces its own
    rows, never appends beside them. ``df`` must not read ``path``
    lazily: sever its lineage first. A batch with no row in ``df`` keeps
    its partition, so a caller that empties a batch deletes it."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(path)
    )


def prune_files(stats: DataFrame, col: str, lo, hi) -> list[str]:
    """Files whose [min, max] envelope intersects [lo, hi] — the files a
    ``col BETWEEN lo AND hi`` query must read.  Envelope logic is
    conservative: a file overlapping the range boundary is kept."""
    kept = stats.filter(
        (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
    )
    return [r["file"] for r in kept.select("file").collect()]


def read_pruned(
    spark: SparkSession, stats: DataFrame, col: str, lo, hi
) -> DataFrame:
    """Read only the files the manifest says can contain
    ``col BETWEEN lo AND hi``; the residual filter still applies (zone
    maps bound, they don't guarantee).  An empty prune result returns an
    empty DataFrame with the right schema via an always-false filter on
    one file (schema source only — no data is read past the footer)."""
    files = prune_files(stats, col, lo, hi)
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if not files:
        any_file = [r["file"] for r in stats.select("file").limit(1).collect()]
        if not any_file:
            # a zero-row manifest has no file to borrow a schema from;
            # spark.read.parquet() with no paths raises an opaque
            # analysis error — fail with the actual cause instead
            raise ValueError(
                "read_pruned: manifest has no files — collect_file_stats "
                "over the table (or its first load) must run before "
                "pruned reads"
            )
        return spark.read.parquet(*any_file).filter(F.lit(False))
    return spark.read.parquet(*files).filter(pred)
