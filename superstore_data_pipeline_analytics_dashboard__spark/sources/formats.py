"""Format-agnostic readers/writers (SURVEY.md §2.1 S1-S4 generalized).

The reference reads exactly one format (messy CSV — see ``messy_csv.py``
for that recovery path) and materializes tables. A complete engine has to
ingest and emit the interchange formats a data platform actually meets:

* **parquet** — the default columnar store (pushdown, pruning, min-max);
* **ORC** — the other columnar format Spark ships a vectorized reader for;
* **JSON-lines** — interchange with services/log pipelines; schema is
  ALWAYS passed explicitly (schema inference = an extra full scan at
  100 TB, and silently wrong types on sparse columns);
* **CSV** — well-formed exports (for the reference's corrupted CSV the
  repair pre-pass in ``messy_csv.read_superstore_csv`` is the entry).

Write-side knobs that matter at scale and are easy to get wrong:

* ``maxRecordsPerFile`` bounds file size without a repartition;
* explicit partition columns → directory pruning for free;
* compression: snappy for parquet/orc (splittable, cheap to decode),
  gzip only for final JSON/CSV exports that leave the cluster.

Lossiness note, enforced in tests: CSV carries no type metadata, so a
round-trip needs the schema re-applied on read; JSON-lines keeps numbers
and strings but renders timestamps as ISO strings (Spark reads them back
with ``timestampFormat``); parquet/ORC round-trip every Spark type
including decimals exactly.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .manifest import file_stats, replace_batches
from .retention import (
    _COMPACT_COMMIT,
    _COMPACT_STAGING,
    _COMPACT_TRASH,
    _fs,
    _write_text,
    repair_manifest,
)

_COLUMNAR = {"parquet", "orc"}
_TEXTUAL = {"json", "csv"}
FORMATS = _COLUMNAR | _TEXTUAL

#: ISO-8601 with micros — what we write and what we parse back
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
#: NTZ wall clock has no offset designator; micros, not the default millis
_TS_NTZ_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _ts_options(rw):
    """Apply micros-precision timestamp formats to a reader or writer.

    ``timestampFormat`` covers TIMESTAMP; TIMESTAMP_NTZ is governed by the
    separate ``timestampNTZFormat`` option whose default truncates to
    millis — events.ts (NTZ by the load_table contract) needs both set.
    """
    return rw.option("timestampFormat", _TS_FMT).option(
        "timestampNTZFormat", _TS_NTZ_FMT
    )


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Read ``path`` in ``fmt``. For textual formats a schema is REQUIRED
    (inference costs a second full scan and mistypes sparse columns); for
    columnar formats the file's own schema wins and ``schema`` is ignored.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {sorted(FORMATS)}")
    reader = spark.read
    if fmt in _TEXTUAL:
        if schema is None:
            raise ValueError(f"{fmt} reads require an explicit schema at scale")
        reader = reader.schema(schema)
    if fmt == "json":
        reader = _ts_options(reader)
    if fmt == "csv":
        reader = _ts_options(reader.option("header", True))
    return reader.format(fmt).load(path)


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
) -> dict:
    """JSON-lines with a bad-record channel (the S1/S2 recovery idea
    applied to JSON): PERMISSIVE parse with ``columnNameOfCorruptRecord``
    keeps malformed lines instead of dropping (DROPMALFORMED) or aborting
    (FAILFAST), then ONE cached scan splits into
    ``{"good": typed rows, "quarantine": (raw_line)}``. At 100 TB the
    quarantine side is the audit trail a re-ingest reads — silently
    dropped records are unrecoverable.

    The corrupt-record column must be part of the read schema (Spark
    requirement) and is stripped from the good side.

    The returned dict also carries ``"parsed"``: the cached parent both
    splits filter — call ``parsed.unpersist()`` once both sides are
    materialized, otherwise the parse stays pinned in executor storage
    for the session. The caller-supplied ``StructType`` is never mutated
    (``StructType.add`` mutates in place AND returns self, so the
    obvious one-liner would permanently append ``__corrupt`` to the
    caller's schema object)."""
    corrupt = "__corrupt"
    base = (
        schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    )
    full = StructType(list(base.fields) + [StructField(corrupt, StringType())])
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
        .cache()
    )
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    quarantine = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return {"good": good, "quarantine": quarantine, "parsed": df}


def read_parquet_evolved(
    spark: SparkSession, *paths: str
) -> DataFrame:
    """Read parquet written under an EVOLVED schema (columns added over
    time across partitions/loads): ``mergeSchema`` unions every file
    footer's schema, so old files surface the new columns as NULL. Off
    by default in Spark because footer merging costs one extra pass over
    file metadata — turn it on only at schema boundaries like this, not
    globally."""
    return spark.read.option("mergeSchema", True).parquet(*paths)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 256,
) -> int:
    """Small-files compaction: rewrite ``src`` into ``dst`` with file
    count sized from the ACTUAL on-disk bytes (Hadoop FS content
    summary, storage-agnostic) over ``target_file_mb``. The classic
    100 TB housekeeping op — streaming sinks and per-batch appends leave
    thousands of KB-files whose per-file open/footer cost dominates later
    scans. Returns the file count written. Writes to a NEW location; the
    caller swaps directories once the write commits (never compact in
    place — a failed overwrite of the live path loses data).

    Hive-partitioned sources keep their layout: ``k=v`` directory levels
    under ``src`` are detected from the filesystem and carried through
    ``partitionBy`` on the rewrite (a flat rewrite would silently turn
    partition columns into data columns and disable partition pruning
    for every downstream reader). For partitioned sources the rewrite is
    clustered on the partition columns so each output directory gets
    coherent files instead of ``n_files`` fragments per partition."""
    fs, hpath = _fs(spark, src)
    jpath = hpath(src)
    n_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, -(-int(n_bytes) // (target_file_mb * 1024 * 1024)))
    # walk down the first child chain collecting Hive `k=v` levels — the
    # partition spec is identical across siblings by construction, so one
    # path is enough to recover the ordered partition-column list
    part_cols: list[str] = []
    probe = jpath
    while True:
        subdirs = [
            st.getPath()
            for st in fs.listStatus(probe)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if not subdirs:
            break
        part_cols.append(subdirs[0].getName().split("=", 1)[0])
        probe = subdirs[0]
    df = spark.read.parquet(src)
    if part_cols:
        writer = (
            df.repartition(n_files, *part_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
        )
    else:
        writer = df.repartition(n_files).write.mode("overwrite")
    writer.parquet(dst)
    return n_files


def write_any(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """Write ``df`` to ``path`` in ``fmt``. ``max_records_per_file`` bounds
    output file size without forcing a repartition shuffle — the lever for
    "no 10 GB files, no 10k tiny files" at scale."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {sorted(FORMATS)}")
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "json":
        writer = _ts_options(writer)
    if fmt == "csv":
        writer = _ts_options(writer.option("header", True))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    writer.save(path)


def compact_batch(
    spark: SparkSession,
    sink_path: str,
    manifest_path: str,
    batch: int,
    target_files: int = 1,
) -> tuple[int, int]:
    """In-place compaction of ONE ``batch=<id>`` partition of the
    manifest-maintained sink — the maintenance twin of
    ``compact_parquet`` for sinks whose readers prune through the
    zone-map manifest (``sources/manifest.py``). Streaming appends
    leave one-or-more small files per micro-batch; this rewrites the
    batch into ``target_files`` files and refreshes its manifest rows
    so pruned reads keep working, without ever compacting the live
    directory in place: write to a hidden staging dir, rename-swap,
    refresh — the same discipline (and the same audit-caught crash
    windows) as ``retention.erase_rows``. Returns
    ``(files_before, files_after)``.

    Content is byte-identical, which is what makes compaction SAFE
    where erasure is deliberately destructive: snapshots pin batch
    sets + content stats (not file lists), so a pre-compaction pin
    stays REPRODUCIBLE — ``snapshot_drift_audit`` passes across a
    compaction and fails across an erasure, and the tests pin that
    contrast. A batch-grain Bloom store row (``sources/bloom.py``)
    also stays exactly correct: same rows, same positions.

    The manifest refresh is ONE scan of the compacted partition through
    ``manifest.file_stats(..., like=)``, the manifest's one row layout:
    stats for every tracked column the batch has, evolved-away columns
    padded as typed NULLs. FileSystem access goes through
    ``retention._fs``, the erasure's own lookup."""
    part = f"{sink_path}/batch={batch}"
    fs, hpath = _fs(spark, part)
    files_before = sum(
        1
        for st in fs.listStatus(hpath(part))
        if st.getPath().getName().startswith("part-")
    )
    man = spark.read.parquet(manifest_path)
    stat_cols = [
        c[len("min_") :] for c in man.columns if c.startswith("min_")
    ]
    df = spark.read.parquet(part)
    staging = f"{sink_path}/{_COMPACT_STAGING}{batch}"
    commit_path = f"{sink_path}/{_COMPACT_COMMIT}{batch}.json"
    fs.delete(hpath(staging), True)
    fs.delete(hpath(commit_path), False)
    df.coalesce(target_files).write.parquet(staging)
    # durability marker, written only AFTER the staging write commits —
    # our own artifact rather than the writer's _SUCCESS file, which
    # clusters can disable (mapreduce.fileoutputcommitter
    # .marksuccessfuljobs=false): repair_compaction keys its
    # complete-vs-torn decision on it, so a durable staged compaction
    # is never misread as torn and silently discarded (the erase_rows
    # .erase_commit.json pattern)
    _write_text(spark, commit_path, json.dumps({"batch": batch}))
    # hidden (dot-prefixed) trash path: a crash between the retire-rename
    # and the final delete must leave residue INVISIBLE to Spark's
    # partition discovery — a non-hidden `{part}.trash` dir would surface
    # as a bogus partition value and double-count the pre-compaction copy
    # in full-sink reads (same discipline as erase_rows' .erase_trash)
    trash = hpath(f"{sink_path}/{_COMPACT_TRASH}{batch}")
    fs.delete(trash, True)
    if not fs.rename(hpath(part), trash):
        raise IOError(f"compact swap failed: could not retire {part}")
    if not fs.rename(hpath(staging), hpath(part)):
        raise IOError(f"compact swap failed: could not land {staging}")
    fs.delete(trash, True)
    replace_batches(
        file_stats(
            spark.read.option("basePath", sink_path).parquet(part),
            stat_cols,
            like=man.schema,
        ),
        manifest_path,
    )
    files_after = sum(
        1
        for st in fs.listStatus(hpath(part))
        if st.getPath().getName().startswith("part-")
    )
    fs.delete(hpath(commit_path), False)
    return files_before, files_after


def repair_compaction(
    spark: SparkSession,
    sink_path: str,
    manifest_path: str,
    batch: int,
) -> "DataFrame":
    """Recover a batch partition from a CRASHED ``compact_batch`` call.
    The swap is retire-then-land, so the crash states are unambiguous:

    * live ``batch=N`` missing + staging durable (compact_batch's own
      ``.compact_commit_batch=N.json`` marker — written only after the
      staging write commits, so it works on clusters that disable the
      writer's ``_SUCCESS`` file; ``_SUCCESS`` is accepted as a
      fallback for pre-marker residue): the crash hit between the two
      renames — COMPLETE the swap (land the staged compacted files)
      and drop the trash;
    * live ``batch=N`` missing + no complete staging: the retire ran
      but the compacted copy is torn — RESTORE the partition from the
      hidden trash (it holds the only copy) and discard the staging;
    * live partition present: both hidden trees are residue — cleaned.

    Always finishes by reconciling the manifest via
    :func:`retention.repair_manifest` (a crash after the swap but
    before the refresh leaves the rows pointing at retired files).
    Returns one row: ``(action, consistent_after)``."""
    part = f"{sink_path}/batch={batch}"
    staging = f"{sink_path}/{_COMPACT_STAGING}{batch}"
    trash = f"{sink_path}/{_COMPACT_TRASH}{batch}"
    commit_path = f"{sink_path}/{_COMPACT_COMMIT}{batch}.json"
    fs, hpath = _fs(spark, part)
    # staged-compaction durability comes from compact_batch's own
    # commit marker; the writer's _SUCCESS file is accepted as a
    # fallback for residue staged before the marker existed, but the
    # marker is what works on clusters that disable _SUCCESS
    staged_durable = fs.exists(hpath(commit_path)) or fs.exists(
        hpath(f"{staging}/_SUCCESS")
    )
    if not fs.exists(hpath(part)):
        if staged_durable and fs.exists(hpath(staging)):
            if not fs.rename(hpath(staging), hpath(part)):
                raise IOError(
                    f"compaction repair failed: could not land {staging}"
                )
            fs.delete(hpath(trash), True)
            action = "completed"
        elif fs.exists(hpath(trash)):
            if not fs.rename(hpath(trash), hpath(part)):
                raise IOError(
                    f"compaction repair failed: could not restore {trash}"
                )
            fs.delete(hpath(staging), True)
            action = "restored"
        else:
            raise ValueError(
                f"repair_compaction: batch {batch} has no live "
                "partition and no residue to recover it from"
            )
    else:
        cleaned = fs.delete(hpath(staging), True) | fs.delete(
            hpath(trash), True
        )
        action = "cleaned" if cleaned else "noop"
    fs.delete(hpath(commit_path), False)
    ok = bool(
        repair_manifest(spark, sink_path, manifest_path)
        .collect()[0]["consistent_after"]
    )
    return spark.createDataFrame(
        [(action, ok)], "action STRING, consistent_after BOOLEAN"
    )
