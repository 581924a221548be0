"""Targeted erasure over the batch-partitioned manifest sink — the
compliance delete ("right to be forgotten" / opt-out list) a training
corpus must support, without rewriting the table.

At 100 TB the naive delete — read everything, anti-join, write
everything — costs a full table rewrite for an opt-out list of a few
thousand keys. The manifest (``sources/manifest.py``) already knows
each FILE's key envelope, so erasure prunes at file grain (r10): only
the files whose own [min, max] can contain a doomed key are
rewritten; everything else — other files in the same batch included —
is untouched (zero read, zero write). A 3-file hit inside a 300-file
partition rewrites 1% of the partition, not all of it. With a
range-clustered layout (z-order or range ingest) the affected set is
tiny; with a random layout every envelope spans the key space and
erasure honestly degrades to the full rewrite — the same
clustered-vs-random contrast the zone-map tests demonstrate for reads
— UNLESS the caller supplies per-batch Bloom summaries (``blooms=``,
r10): blooms prune point lookups independent of layout, confining the
rewrite to the batches that can actually contain a doomed key.

Mechanics are BATCHED, not per-partition (r10 — VERDICT r9 item 5):
the candidate files are grouped by their batch's exact file schema,
and each group is rewritten by ONE Spark job — read every candidate
file of the group in a single multi-path scan, anti-join against the
(broadcast) key list once, write the survivors to a hidden staging
tree partitioned by batch. Spark jobs therefore scale with the number
of DISTINCT SCHEMAS in the hit set (almost always 1, bounded by the
sink's evolution history), never with the number of hit files or
partitions — a 10k-batch table with 500 enveloped files costs two
jobs, not 500 sequential ones. Schema grouping is what keeps the
batching honest on an evolved sink: reading v1 and v2 partitions in
one scan would write the MERGED schema back into pre-evolution
batches, silently evolving data that a path-scoped snapshot pin
promised would never sprout columns. The driver still loops, but only
over renames — metadata ops, not jobs.

The swap is rename-based and file-level: doomed files are retired
into the hidden ``.erase_trash`` tree, then the rewritten files land
beside the untouched ones (fresh writer UUIDs — no name collisions).
It is ONE roll-forward, ``_roll_forward``, driven by the group's
commit marker: ``erase_rows`` runs it right after writing the marker,
and ``repair_erasure`` runs the same function on whatever a crash
left, each step skipping what is already done — every crash state
inside the swap is a prefix of the code that finishes it. The erasure
is JOURNALED at two grains, which makes every crash window
REPAIRABLE — and the whole delete RESUMABLE — not just detectable
(r11): a once-per-call resumability journal (``.erase_keys`` +
``.erase_intent.json``, written before any group mutates the sink)
and a per-group durability marker (``.erase_commit.json``, written
only after the group's staging write commits — our own artifact
rather than the writer's ``_SUCCESS`` file, which clusters can
disable). Crash windows: (a) inside the staging write — no commit
marker, the sink is untouched, ``repair_erasure`` discards the torn
staging tree; (b) between a file's retire-rename and its replacement
landing — ``manifest_consistency_audit`` reports the stale rows, and
``repair_erasure`` rolls the swap FORWARD from the commit + staged
survivors by re-running the swap itself (forward is the only
acceptable direction for a promised compliance delete); (c) after
the swaps and before the group's manifest refresh — the landed
files are unenveloped and the retired files' rows stale, which the
audit reports and ``repair_manifest`` reconciles; (d) before LATER
schema groups ran at all — the resumability journal outlives every
window, and repair finishes the delete by re-running the erasure from
the journaled keys, so a multi-group crash can never masquerade as a
completed delete. A successful call deletes its own journals and
trees before returning; crash residue is reclaimed by
``repair_erasure`` or, once repaired, ``vacuum_maintenance`` (which
refuses to destroy load-bearing residue). On object stores without
cheap rename, land the staging files as the new locations and flip
the manifest instead (the manifest IS that pointer in this layout).
A batch whose every row is doomed gets a zero-row schema-bearing file
(deleting the dir could leave the sink with no parquet files at all)
and its manifest rows are dropped — pruned reads would otherwise
chase files that no longer hold the recorded data.

Manifest refresh is incremental: untouched files KEEP their
pre-erasure manifest rows verbatim (no rescan), only the rewritten
files are scanned for fresh stats; the refreshed batch partitions are
rebuilt driver-side from those metadata-sized row sets so the
overwrite never reads the path it writes.

Erasure deliberately BREAKS old snapshots (``sources/snapshots.py``):
a version that recorded the pre-erasure row counts now fails its drift
audit — correct, auditable behavior: compliance deletion must win over
reproducibility, and the audit is how a reader finds out rather than
silently training on a smaller pin.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..streaming.audit import _disk_vs_manifest, manifest_consistency_audit
from .manifest import file_stats, replace_batches

__all__ = [
    "erase_rows",
    "repair_erasure",
    "repair_manifest",
    "vacuum_maintenance",
]

# The erasure journal: hidden (dot-prefixed) names under the sink root,
# so Spark's reader never sees them.
_STAGING = ".erase_staging"  # the rewritten survivors, by batch
_TRASH = ".erase_trash"  # the retired candidate files, by batch
_COMMIT = ".erase_commit.json"  # the swap plan; staging is durable
_KEYS = ".erase_keys"  # the opt-out keys, for resuming the delete
_INTENT = ".erase_intent.json"  # key columns and maintained bloom store
_EMPTY = ".erase_empty"  # the zero-row template of an emptied batch
_ERASE_RESIDUE = (_STAGING, _TRASH, _COMMIT, _KEYS, _INTENT, _EMPTY)
# The compaction journal of batch N (``formats.compact_batch``), hidden
# beside it: ``<name>N``, the commit marker with a ``.json`` suffix.
_COMPACT_STAGING = ".compact_staging_batch="  # the compacted copy
_COMPACT_TRASH = ".compact_trash_batch="  # the retired partition
_COMPACT_COMMIT = ".compact_commit_batch="  # staging is durable


def _fs(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return (
        hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()),
        hpath,
    )


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath(path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _write_erase_journal(
    spark: SparkSession,
    sink_path: str,
    keys: DataFrame,
    key_cols: list[str],
    bloom_store_path: str | None,
) -> None:
    """Write the erasure journal ``repair_erasure`` resumes from: the
    opt-out ``keys`` (``.erase_keys`` parquet, replacing any earlier
    list) and the intent (``.erase_intent.json``: key columns and the
    maintained bloom store). The one writer of this format —
    ``erase_rows`` and every crash fixture that plants a journal."""
    fs, hpath = _fs(spark, sink_path)
    keys_path = f"{sink_path}/{_KEYS}"
    fs.delete(hpath(keys_path), True)
    keys.write.parquet(keys_path)
    _write_text(
        spark,
        f"{sink_path}/{_INTENT}",
        json.dumps(
            {"key_cols": key_cols, "bloom_store_path": bloom_store_path}
        ),
    )


def _erase_journal_exists(spark: SparkSession, sink_path: str) -> bool:
    """True while either half of the erasure journal is on disk."""
    fs, hpath = _fs(spark, sink_path)
    return bool(
        fs.exists(hpath(f"{sink_path}/{_INTENT}"))
        or fs.exists(hpath(f"{sink_path}/{_KEYS}"))
    )


def _retire_erase_journal(spark: SparkSession, sink_path: str) -> None:
    """Delete both halves of the erasure journal: the delete it records
    is finished (or never started)."""
    fs, hpath = _fs(spark, sink_path)
    fs.delete(hpath(f"{sink_path}/{_INTENT}"), False)
    fs.delete(hpath(f"{sink_path}/{_KEYS}"), True)


def _read_text(spark: SparkSession, path: str) -> str:
    fs, hpath = _fs(spark, path)
    stream = fs.open(hpath(path))
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _has_parquet(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and holds at least one parquet part
    file that SPARK WOULD READ (recursively, skipping files under
    hidden ``.``/``_`` path components — Spark's reader ignores
    those). A whole-table erasure legitimately drops EVERY manifest
    partition, and ``spark.read.parquet`` on the emptied directory
    raises (unable to infer schema) — repair paths use this guard to
    treat that state as nothing-left-to-reconcile instead of aborting
    mid-phase with the journal still on disk. The hidden-component
    skip matters for exactly that guard: a sink whose visible data
    was lost out-of-band may still hold the erasure journal's OWN
    parquet (``.erase_keys/part-*``) or staging/trash residue, and
    counting those would re-raise the AnalysisException this function
    exists to pre-empt (review r13)."""
    fs, hpath = _fs(spark, path)
    root = hpath(path)
    if not fs.exists(root):
        return False
    root_str = fs.makeQualified(root).toString().rstrip("/")
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath()
        if not p.getName().startswith("part-"):
            continue
        rel = p.toString()[len(root_str):].strip("/")
        # directory components between the root and the file: any
        # hidden one (.erase_keys, .compact_staging_*, _tmp...) means
        # Spark's reader would never see this file
        if any(
            c.startswith((".", "_")) for c in rel.split("/")[:-1]
        ):
            continue
        return True
    return False


def _require_dir(spark: SparkSession, path: str, what: str) -> None:
    """Raise on a path that does not exist AT ALL — a mistyped
    argument. Distinct from the legitimately-EMPTIED state (a
    whole-table erasure drops every ``batch=`` partition but the root
    directory, with the writer's ``_SUCCESS``, survives): an emptied
    manifest is consistent-iff-the-sink-is-empty, a nonexistent one is
    an operator error that must never read as 'repaired'."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath(path)):
        raise ValueError(
            f"{what} path {path} does not exist — mistyped argument? "
            "(a legitimately emptied manifest keeps its root directory)"
        )




def _fresh_stat_rows(
    spark: SparkSession,
    sink_path: str,
    files_by_sig: dict[tuple, list[str]],
    man_schema: StructType,
) -> list:
    """Collect fresh manifest rows, in the manifest's schema
    (``file_stats(..., like=)``), for the given files — ONE scan per
    footer-schema group (a mixed-schema scan would NULL-pad
    pre-evolution files with merged columns). Shared by erase_rows'
    post-rewrite refresh and repair_manifest's re-enveloping."""
    stat_cols = [
        c[len("min_") :] for c in man_schema.names if c.startswith("min_")
    ]
    rows: list = []
    for uris in files_by_sig.values():
        if uris:
            rows += file_stats(
                spark.read.option("basePath", sink_path).parquet(*uris),
                stat_cols,
                like=man_schema,
            ).collect()
    return rows


def _roll_forward(
    spark: SparkSession,
    sink_path: str,
    manifest_path: str,
    plan: dict,
    rows_like: DataFrame | None = None,
) -> tuple[dict[int, list[str]], list[int], int]:
    """Run an erasure swap to its end from its parsed
    ``.erase_commit.json`` ``plan``. For each planned batch, in order:
    retire every candidate file still present into
    ``.erase_trash/batch=N``; land every staged ``part-*`` file not yet
    landed; and for a batch the plan shows with no untouched file that
    now holds no ``part-*`` file, drop its manifest partition and land
    a zero-row, schema-bearing file (an emptied dir could leave the
    sink with no parquet file to infer a schema from).

    Each step skips what is already done, so every state a crash can
    leave inside the swap is a prefix of this function: ``erase_rows``
    runs it right after writing the plan, ``repair_erasure`` runs it
    again to finish a crashed one. Renames only, plus at most one
    zero-row template per call, copied into each emptied batch (a plan
    is one schema group, so they share it): written from ``rows_like``
    (a frame of the group's file schema — erase_rows passes its rewrite
    scan) or else from a retired file, at the cost of a footer read.
    Returns ``(landed, emptied, n_retired)``: the landed file URIs
    per batch, the emptied batches and the number of files retired."""
    fs, hpath = _fs(spark, sink_path)
    trash = f"{sink_path}/{_TRASH}"
    tmpl = f"{sink_path}/{_EMPTY}"

    def parts(d: str) -> list:
        return [
            st.getPath()
            for st in fs.listStatus(hpath(d))
            if st.getPath().getName().startswith("part-")
        ]

    def move(src, dst) -> None:
        if not fs.rename(src, dst):
            raise IOError(f"erase swap failed: could not move {src} to {dst}")

    landed: dict[int, list[str]] = {}
    emptied: list[int] = []
    n_retired = 0
    template = None
    for b in sorted(int(b) for b in plan["batches"]):
        info = plan["batches"][str(b)]
        part = f"{sink_path}/batch={b}"
        fs.mkdirs(hpath(f"{trash}/batch={b}"))
        for u in info["files"]:
            if fs.exists(hpath(u)):
                name = u.rsplit("/", 1)[1]
                move(hpath(u), hpath(f"{trash}/batch={b}/{name}"))
                n_retired += 1
        fs.mkdirs(hpath(part))
        staged = f"{sink_path}/{_STAGING}/batch={b}"
        landed[b] = []
        for p in parts(staged) if fs.exists(hpath(staged)) else []:
            move(p, hpath(f"{part}/{p.getName()}"))
            landed[b].append(f"{part}/{p.getName()}")
        if info["n_untouched"] or parts(part):
            continue
        if template is None:
            if rows_like is None:
                retired = parts(f"{trash}/batch={b}")[0].toString()
                rows_like = spark.read.parquet(retired)
            fs.delete(hpath(tmpl), True)
            rows_like.limit(0).coalesce(1).write.parquet(tmpl)
            template = parts(tmpl)[0]
        # no manifest rows for a zero-row batch — dynamic overwrite
        # cannot land zero rows, and stale rows would send pruned reads
        # at retired files
        fs.delete(hpath(f"{manifest_path}/batch={b}"), True)
        # copied beside the template, then renamed in: a torn copy
        # never lands in the live partition
        copy = hpath(f"{tmpl}/batch={b}/{template.getName()}")
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            fs.open(template), fs.create(copy, True), 65536, True
        )
        move(copy, hpath(f"{part}/{template.getName()}"))
        emptied.append(b)
    return landed, emptied, n_retired


def erase_rows(
    spark: SparkSession,
    sink_path: str,
    manifest_path: str,
    key_col: str | Sequence[str],
    keys: DataFrame,
    blooms: dict[str, DataFrame] | None = None,
    bloom_store_path: str | None = None,
) -> DataFrame:
    """Delete every row whose ``key_col`` value (or composite tuple,
    when a list of columns is given) appears in ``keys`` from the sink,
    rewriting only the FILES whose manifest envelope intersects the
    key list. Returns the erasure report — one row per batch:
    ``(batch, rewritten, rows_before, rows_erased, rows_after)`` with
    ``rewritten`` true iff at least one of the batch's file envelopes
    admitted a key (conservative: an admitting file is rewritten even
    if no actual row matches) — exact integers, the compliance
    evidence. Untouched-file counts come from the (audited) manifest;
    rewritten-file counts from the post-rewrite scan.

    Composite keys make pruning MULTIPLICATIVE on clustered layouts: a
    file can contain a doomed ``(a, b)`` tuple only if ``a`` fits its
    ``a``-envelope AND ``b`` fits its ``b``-envelope, so a z-order /
    grid-clustered sink confines the rewrite to the intersecting cells
    — a single-column envelope would rewrite the whole stripe along
    the other dimension. Every key column must have recorded
    ``min_/max_`` stats in the manifest (raises otherwise); the
    manifest refresh keeps untouched files' rows verbatim and
    re-collects ALL tracked columns' stats for the rewritten files, so
    later pruned reads on other columns stay correct.

    Scale shape: candidate selection is one pass of the key list over
    the broadcast per-file envelope table; the hit set is then
    rewritten in ONE anti-join job per distinct partition schema (plus
    one stats scan of only the rewritten files per schema group) — the
    key list is broadcast into those rewrites (opt-out lists are
    key-sized, not data-sized). Driver-side loops hold only file
    URIs, manifest stat rows for affected batches, rename handles and
    counts — metadata volumes, the same class as ``read_pruned``'s
    file lists; never data rows, never one Spark job per partition.

    NULL keys in the opt-out list RAISE (same NULL-policy documentation
    pattern as operators/topk.py): both the envelope range semi-join
    and the per-partition ``==`` anti-join are null-rejecting, so a
    NULL entry would be a silent no-op — for a compliance delete,
    "silently did not erase" is the one unacceptable behavior. A NULL
    cannot identify a data subject; callers holding NULL-keyed sink
    rows they want gone should delete them by predicate, not by key
    list.

    ``blooms`` (optional) intersects the envelope candidates with
    per-batch Bloom summaries (``sources/bloom.py``, a dict of key
    column → self-describing summary frame from
    ``collect_batch_blooms`` or ``load_bloom_store``, probed under the
    geometry its rows record; a frame without the metadata columns
    raises): on RANDOM layouts, where
    every envelope spans the key space and erasure would honestly
    degrade to a full-table rewrite, blooms confine the rewrite to the
    batches that can actually contain a doomed key. The intersection
    is tuple-precise for composite keys (a batch survives only if,
    for EVERY bloomed column, it may contain that column's component
    of SOME single doomed tuple) and conservative by construction —
    a bloom never has false negatives, so no containing batch is ever
    skipped. COMPLIANCE CONTRACT: the bloom must be CURRENT — built
    or rebuilt after the sink's last append. A bloom built before a
    deletion stays safe (over-approximation survives row removal; in
    particular this erasure does not invalidate it), but one built
    before an APPEND can hide the appended rows — for a compliance
    delete, pass no bloom rather than a possibly-stale one.

    ``bloom_store_path`` (optional) keeps an on-disk Bloom store
    CURRENT through the delete. Before any file work, the store must
    record one geometry per column and no column absent from the sink.
    After the swap, every store column of the rewritten batches is
    re-collected under that geometry (read once, by the validation)
    through the store's one re-collection path,
    ``bloom._recollect_store``: one scan of those batches — a summary
    covers untouched files too, so this is batch-sized, but still
    confined to the batches the erasure touched — and fully-emptied
    batches drop their store partition. Without it, an in-place
    erasure leaves the store safely over-approximating (no false
    negatives — deletions cannot hide rows) but no longer CURRENT,
    which ``bloom_store_audit`` reports as count mismatches / orphan
    rows.

    Refuses (raises) before any file work while a crashed erasure's
    ``.erase_commit.json`` is on disk: its staged survivors and retired
    originals are the only copies of the crashed batches' rows, and a
    new erasure would discard them. Refuses likewise while its journal
    (``.erase_keys`` + ``.erase_intent.json``) is on disk without a
    marker (a crash inside a staging write or during the store
    refresh): a new erasure would overwrite the journaled keys and
    retire them on success, so the crashed delete could never be
    resumed. Run :func:`repair_erasure` first; it finishes the
    journaled delete through this function's body."""
    fs, hpath = _fs(spark, sink_path)
    if fs.exists(hpath(f"{sink_path}/{_COMMIT}")):
        raise ValueError(
            "erase_rows: a crashed erasure left its commit marker behind "
            "(staged survivor rows still to roll forward) — run "
            "repair_erasure first; a new erasure would discard them"
        )
    if _erase_journal_exists(spark, sink_path):
        raise ValueError(
            "erase_rows: a crashed erasure left its journal behind (a "
            "delete still to finish) — run repair_erasure first; a new "
            "erasure would overwrite its keys"
        )
    return _erase_rows(
        spark, sink_path, manifest_path, key_col, keys, blooms, bloom_store_path
    )


def _erase_rows(
    spark: SparkSession,
    sink_path: str,
    manifest_path: str,
    key_col: str | Sequence[str],
    keys: DataFrame,
    blooms: dict[str, DataFrame] | None,
    bloom_store_path: str | None,
) -> DataFrame:
    """The body of :func:`erase_rows`, after its refusals of a pending
    crash; ``repair_erasure`` resumes a journaled delete through it."""
    cols = [key_col] if isinstance(key_col, str) else list(key_col)
    fs, hpath = _fs(spark, sink_path)
    commit_path = f"{sink_path}/{_COMMIT}"
    if blooms:
        from .bloom import _require_meta_schema

        # schema-only (no job), so a bad frame is refused whether or not
        # some envelope admits a key
        bad = sorted(set(blooms) - set(cols))
        if bad:
            raise ValueError(
                f"erase_rows: bloom provided for non-key column(s) {bad}"
            )
        for bl in blooms.values():
            _require_meta_schema(bl, "the probed bloom summary frame")
    if bloom_store_path is not None:
        # validate BEFORE any irreversible file work: a mistyped path,
        # an inconsistent store, or a store-recorded column the sink no
        # longer holds would otherwise abort after the swap (the
        # refresh's summary collection needs every recorded column),
        # losing the erasure report and leaving the store stale despite
        # the maintenance flag
        store, geometry = _load_store_geometry(spark, bloom_store_path)
        # union schema from ONE sampled footer per batch dir
        # (the landing convention is one schema per batch, and this
        # check is advisory fail-early: the refresh itself skips absent
        # columns, so under-sampling can at worst delay detection,
        # never corrupt). A full-sink mergeSchema read here would be a
        # per-erasure footer sweep of EVERY file — the jobs-∝-inventory
        # shape file-grain erasure exists to avoid. The sampled footers
        # are merged in ONE multi-path read (it was one DataFrame
        # construction + footer read per batch dir — #batches driver
        # round trips per maintained erasure); cross-batch TYPE
        # conflicts, which the name-union tolerates but schema merging
        # refuses, fall back to the per-batch loop.
        sample_parts: list[str] = []
        for st in fs.listStatus(hpath(sink_path)):
            if not st.isDirectory() or not st.getPath().getName(
            ).startswith("batch="):
                continue
            part = next(
                (
                    s.getPath().toString()
                    for s in fs.listStatus(st.getPath())
                    if s.getPath().getName().startswith("part-")
                ),
                None,
            )
            if part is not None:
                sample_parts.append(part)
        sink_union: set[str] = set()
        if sample_parts:
            try:
                sink_union = {
                    f.name
                    for f in spark.read.option("mergeSchema", True)
                    .parquet(*sample_parts)
                    .schema
                }
            except Exception:
                for part in sample_parts:
                    sink_union.update(
                        f.name for f in spark.read.parquet(part).schema
                    )
        absent = sorted(set(geometry) - sink_union)
        if absent:
            # the one-footer-per-batch sample above is advisory: a
            # batch with in-batch schema heterogeneity (or listing-order
            # variance) can hide a column present in unsampled files.
            # Before refusing a valid maintained erasure, confirm with
            # ONE mergeSchema union over the batch dirs — the footer
            # sweep is paid only on the (rare) would-be-refusal path,
            # never per-erasure (ADVICE r12).
            batch_dirs = [
                st.getPath().toString()
                for st in fs.listStatus(hpath(sink_path))
                if st.isDirectory()
                and st.getPath().getName().startswith("batch=")
            ]
            if batch_dirs:
                full_union = {
                    f.name
                    for f in spark.read.option("mergeSchema", True)
                    .option("basePath", sink_path)
                    .parquet(*batch_dirs)
                    .schema
                }
                absent = sorted(set(geometry) - full_union)
        if absent:
            raise ValueError(
                f"erase_rows: the bloom store at {bloom_store_path} "
                f"records column(s) {absent} absent from the sink "
                "schema — the post-swap store refresh could not collect "
                "them; run bloom_store_audit / repair_bloom_store "
                "before maintaining the store through an erasure"
            )
    man = spark.read.parquet(manifest_path)
    stat_cols = [c[len("min_") :] for c in man.columns if c.startswith("min_")]
    unenveloped = [c for c in cols if c not in stat_cols]
    if unenveloped:
        raise ValueError(
            f"erase_rows: manifest records no min_/max_ stats for "
            f"{unenveloped} (has: {stat_cols}) — rebuild the manifest "
            "with these columns before keyed erasure"
        )
    env = man.groupBy(F.col("batch").cast("long").alias("batch")).agg(
        F.sum("n_rows").alias("rows_before")
    )
    k = (
        keys.select(*(F.col(c).alias(f"k_{c}") for c in cols))
        .distinct()
        .persist()
    )
    try:
        # NULL policy (docstring): a NULL opt-out key would no-op silently
        # through every null-rejecting join below — refuse it loudly
        any_null = functools.reduce(
            lambda a, b: a | b, (F.col(f"k_{c}").isNull() for c in cols)
        )
        # FILE-grain candidates (r10): the manifest is per-file, so within
        # an affected batch only the files whose own [min,max] envelopes
        # intersect the key list are rewritten — a 3-file hit inside a
        # 300-file partition rewrites 1% of it, not all of it. This is
        # also TIGHTER than the batch aggregate: a key falling in the gap
        # between two files' ranges hits the batch envelope but no file
        # envelope, and correctly rewrites nothing. NULL stats (a
        # pre-evolution file that lacks a later-added key column) are
        # null-rejecting here, which is CORRECT: no column, no key.
        in_env_file = functools.reduce(
            lambda a, b: a & b,
            (
                (F.col(f"k_{c}") >= F.col(f"min_{c}"))
                & (F.col(f"k_{c}") <= F.col(f"max_{c}"))
                for c in cols
            ),
        )
        cand = man.join(k, in_env_file, "left_semi").select(
            F.col("batch").cast("long").alias("batch"), "file", "n_rows"
        )
        # ONE planning action (r14, VERDICT r13 item 1 — the chains are
        # driver-job-count-bound): the persisted key list's NULL count, the
        # per-batch pre-erasure totals and the file-grain envelope
        # candidates are three independent metadata-sized frames; collect
        # them as one tagged union instead of three driver-sequenced
        # actions. Collected NOW, because the report must describe the
        # PRE-erasure manifest and everything below mutates it (the
        # one-shot-lazy trap: a frame read lazily after the rewrite would
        # silently describe the post-erasure state). The union also
        # materializes the persisted key list, exactly like the separate
        # NULL-check job used to.
        planning = (
            k.agg(F.sum(any_null.cast("long")).alias("n"))
            .select(
                F.lit(0).alias("__tag"),
                F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("batch"),
                F.lit(None).cast("string").alias("file"),
                F.lit(None).cast("long").alias("n_rows"),
            )
            .unionByName(
                env.select(
                    F.lit(1).alias("__tag"),
                    "batch",
                    F.lit(None).cast("string").alias("file"),
                    F.col("rows_before").cast("long").alias("n_rows"),
                )
            )
            .unionByName(
                cand.select(
                    F.lit(2).alias("__tag"),
                    "batch",
                    "file",
                    F.col("n_rows").cast("long").alias("n_rows"),
                )
            )
            .collect()
        )
        if any(int(r["batch"]) for r in planning if r["__tag"] == 0):
            raise ValueError(
                "erase_rows: opt-out key list contains NULL — a NULL cannot "
                "identify a data subject and would silently erase nothing "
                "(null-rejecting envelope/anti joins); drop it or delete "
                "NULL-keyed rows by predicate instead"
            )
        before_counts = {
            int(r["batch"]): int(r["n_rows"])
            for r in planning
            if r["__tag"] == 1
        }
        cand_by_batch: dict[int, list[str]] = {}
        cand_rows_by_batch: dict[int, int] = {}
        for r in planning:
            if r["__tag"] != 2:
                continue
            b = int(r["batch"])
            cand_by_batch.setdefault(b, []).append(r["file"])
            cand_rows_by_batch[b] = cand_rows_by_batch.get(b, 0) + int(
                r["n_rows"]
            )
        affected = sorted(cand_by_batch)

        # the pre-erasure manifest rows of every affected batch are
        # metadata-sized (#files-in-affected-batches rows, same class as
        # the envelope collect): untouched files keep these rows verbatim
        # in the refreshed manifest, and collecting up front avoids
        # re-reading manifest partitions an earlier schema group's refresh
        # already replaced (a lazily re-read listing snapshot would chase
        # deleted files). With blooms the pre-rows and the bloom-confined
        # batch set come back in ONE tagged action (r14 job-count fold):
        # the pre-row branch is semi-joined to the bloom candidates
        # ENGINE-side, so the collect stays bounded by the FINAL affected
        # batches — never the envelope superset (a random layout's
        # envelopes admit everything).
        man_row = Row(*man.columns)
        pre_frame = man.filter(F.col("batch").cast("long").isin(affected))
        if blooms and affected:
            from .bloom import bloom_candidates

            # xxhash64 is type-sensitive: probe with exactly the sink's
            # column types or positions won't match the collected ones
            sink_types = {
                f.name: f.dataType
                for f in spark.read.parquet(sink_path).schema.fields
            }
            kc = [f"k_{c}" for c in cols]
            bcand = None
            for c, bl in blooms.items():
                probe = (
                    k.select(F.col(f"k_{c}").cast(sink_types[c]).alias(c))
                    .distinct()
                )
                cc = bloom_candidates(bl, probe, c)
                j = k.join(
                    cc, k[f"k_{c}"].cast(sink_types[c]) == cc[c]
                ).select(*kc, "batch")
                bcand = (
                    j
                    if bcand is None
                    else bcand.join(j, [*kc, "batch"], "left_semi")
                )
            # persisted: BOTH union branches below read it (the ok_b rows
            # themselves and the pre-row semi-join's build side) — without
            # the persist each branch would re-run the whole per-column
            # bloom-candidate pipeline (measured: q279's tagged collect was
            # 52 jobs unpersisted)
            ok_b = (
                bcand.select(F.col("batch").cast("long").alias("__okb"))
                .distinct()
                .persist()
            )
            try:
                tagged = (
                    ok_b.select(
                        F.lit(0).alias("__tag"),
                        F.col("__okb"),
                        *(F.lit(None).cast(f.dataType).alias(f.name)
                          for f in man.schema.fields),
                    )
                    .unionByName(
                        pre_frame.join(
                            ok_b,
                            pre_frame["batch"].cast("long") == ok_b["__okb"],
                            "left_semi",
                        ).select(
                            F.lit(1).alias("__tag"),
                            F.lit(None).cast("long").alias("__okb"),
                            *man.columns,
                        )
                    )
                    .collect()
                )
            finally:
                ok_b.unpersist()
            bloom_ok = {
                int(r["__okb"]) for r in tagged if r["__tag"] == 0
            }
            affected = [b for b in affected if b in bloom_ok]
            pre_rows = [
                man_row(*(r[c] for c in man.columns))
                for r in tagged
                if r["__tag"] == 1
            ]
        else:
            pre_rows = pre_frame.collect() if affected else []

        # drop candidate entries for bloom-pruned batches so the rewrite,
        # retire and manifest bookkeeping below never touch them
        cand_by_batch = {b: cand_by_batch[b] for b in affected}
        cand_uri_set = {u for us in cand_by_batch.values() for u in us}

        # group the hit set by exact file schema: one rewrite job per
        # GROUP (see module docstring — mixing schemas in one scan would
        # write the merged schema back into pre-evolution batches).
        # Each batch's signature comes from its CANDIDATE files' own
        # footers (one footer read per hit file — ∝ files being
        # rewritten anyway, never the whole dir), not a one-file sample
        # of the batch dir: a sampled footer could disagree with the
        # files actually scanned if a writer ever violated the
        # one-schema-per-batch landing convention, and the grouped
        # multi-path rewrite would then silently DROP (or NULL-pad)
        # columns of the non-sampled candidates — the exact
        # merged-schema corruption the grouping exists to prevent, one
        # level down. Candidates that disagree among themselves fail
        # loudly.
        groups: dict[tuple, list[int]] = {}
        for b in affected:
            sigs = {
                tuple(
                    (f.name, f.dataType.simpleString())
                    for f in spark.read.parquet(u).schema
                )
                for u in cand_by_batch[b]
            }
            if len(sigs) > 1:
                raise ValueError(
                    f"erase_rows: batch {b}'s hit files hold "
                    "heterogeneous schemas "
                    f"({sorted(sorted(s) for s in sigs)}) — rewriting "
                    "them in one scan would corrupt whichever files the "
                    "scan schema wasn't sampled from; compact or re-land "
                    "the batch to one schema first"
                )
            groups.setdefault(sigs.pop(), []).append(b)
        kept_counts: dict[int, int] = {}
        if groups:
            # RESUMABILITY journal, written ONCE before any group
            # mutates the sink: the distinct opt-out keys (key-sized
            # parquet) plus the erasure intent. A crash in ANY group —
            # including groups the crashed call never reached — leaves
            # these behind, and repair_erasure finishes the whole
            # delete by re-running erase_rows from them after its
            # file/manifest reconciliation (a partial compliance delete
            # that READS as repaired would be worse than no repair at
            # all). Both are retired only after the last group's
            # refresh completes. The key list necessarily persists on
            # disk until then — it must, for the delete to be
            # resumable — under the same hidden-tree visibility rules
            # as the staging/trash residue.
            _write_erase_journal(
                spark,
                sink_path,
                k.select(*(F.col(f"k_{c}").alias(c) for c in cols)),
                cols,
                bloom_store_path,
            )
        for sig, bs in groups.items():
            files = [u for b in bs for u in cand_by_batch[b]]
            src = spark.read.option("basePath", sink_path).parquet(*files)
            same_key = functools.reduce(
                lambda a, b: a & b,
                (src[c] == F.col(f"k_{c}") for c in cols),
            )
            kept = src.join(F.broadcast(k), same_key, "left_anti")
            # a torn staging tree (a crash before its commit marker;
            # a marker on disk refuses the call at entry)
            for name in (_STAGING, _TRASH):
                fs.delete(hpath(f"{sink_path}/{name}"), True)
            # ONE job rewrites every candidate file of this schema group
            kept.write.partitionBy("batch").parquet(f"{sink_path}/{_STAGING}")
            # DURABILITY marker, written only AFTER the staging write
            # committed: its presence is what tells repair_erasure the
            # staged survivors are complete and the swap must roll
            # FORWARD (completing the swap is the original erasure's
            # semantics — for a compliance delete, forward is the only
            # acceptable direction once staging is durable).
            # Deliberately our own artifact, not the writer's _SUCCESS
            # file: clusters that set
            # mapreduce.fileoutputcommitter.marksuccessfuljobs=false
            # would otherwise make a durable staging look torn and a
            # discarding "repair" would destroy the only copies of the
            # surviving rows. Metadata-sized: candidate URIs and
            # untouched-file counts per batch.
            plan = {
                "batches": {
                    str(b): {
                        "files": cand_by_batch[b],
                        "n_untouched": sum(
                            int(r["batch"]) == b
                            and r["file"] not in cand_uri_set
                            for r in pre_rows
                        ),
                    }
                    for b in bs
                }
            }
            _write_text(spark, commit_path, json.dumps(plan))
            # the swap IS the roll-forward repair_erasure runs after a
            # crash (renames only — no jobs but the zero-row template)
            landed, emptied, _ = _roll_forward(
                spark, sink_path, manifest_path, plan, src.drop("batch")
            )
            for name in (_STAGING, _TRASH, _EMPTY):
                fs.delete(hpath(f"{sink_path}/{name}"), True)
            kept_counts.update((b, 0) for b in emptied)
            with_manifest = [b for b in bs if b not in emptied]
            if with_manifest:
                # one scan of ONLY the rewritten files serves both the
                # report counts and the manifest refresh (stats must be
                # collected POST-swap: the manifest's `file` column
                # holds live URIs that pruned reads open directly);
                # untouched files keep their pre-erasure manifest rows
                # verbatim — no rescan. Stats cover EVERY column the
                # manifest tracks (not just the erasure keys) so other
                # columns' pruned reads stay correct.
                new_stat_rows = _fresh_stat_rows(
                    spark,
                    sink_path,
                    {sig: [u for b in with_manifest for u in landed[b]]},
                    man.schema,
                )
                new_rows_by_batch: dict[int, int] = {}
                for r in new_stat_rows:
                    b = int(r["batch"])
                    new_rows_by_batch[b] = new_rows_by_batch.get(
                        b, 0
                    ) + int(r["n_rows"])
                # refreshed partition content = untouched files'
                # pre-erasure rows + the rewritten files' fresh rows,
                # rebuilt driver-side (metadata volumes) so the
                # overwrite never reads the path it writes
                keep_old = [
                    r
                    for r in pre_rows
                    if int(r["batch"]) in set(with_manifest)
                    and r["file"] not in cand_uri_set
                ]
                replace_batches(
                    spark.createDataFrame(keep_old + new_stat_rows, man.schema),
                    manifest_path,
                )
                for b in with_manifest:
                    kept_counts[b] = (
                        before_counts[b]
                        - cand_rows_by_batch.get(b, 0)
                        + new_rows_by_batch.get(b, 0)
                    )
            # this group's work (incl. the manifest refresh) is complete
            fs.delete(hpath(commit_path), False)
    finally:
        # released on every path: a refused NULL key or a failed swap
        # must not pin the key list for the rest of the session
        k.unpersist()
    if bloom_store_path is not None and affected:
        from .bloom import _recollect_store

        # every store column of the live rewritten batches re-collected,
        # the emptied batches' rows dropped
        live = {b for b in affected if kept_counts.get(b, 0)}
        _recollect_store(
            spark,
            sink_path,
            bloom_store_path,
            store,
            geometry,
            {(c, b) for c in geometry for b in live},
            {(c, b) for c in geometry for b in set(affected) - live},
        )
    if groups:
        # the whole delete (every group + store refresh) is complete
        _retire_erase_journal(spark, sink_path)
    rows = [
        (
            b,
            b in kept_counts,
            before_counts[b],
            before_counts[b] - kept_counts.get(b, before_counts[b]),
            kept_counts.get(b, before_counts[b]),
        )
        for b in sorted(before_counts)
    ]
    return spark.createDataFrame(
        rows,
        "batch BIGINT, rewritten BOOLEAN, rows_before BIGINT, "
        "rows_erased BIGINT, rows_after BIGINT",
    )


def _load_store_geometry(
    spark: SparkSession, bloom_store_path: str
) -> tuple[DataFrame, dict[str, tuple[int, int]]]:
    """Read an on-disk Bloom store and its recorded geometry, one
    (``n_bits``, ``n_hashes``) per column. Raises on a
    missing/unreadable store or inconsistent or NULL geometry — callers
    run this BEFORE mutating anything the store describes."""
    store = spark.read.parquet(bloom_store_path)
    meta = (
        store.select("key_col", "n_bits", "n_hashes").distinct().collect()
    )
    geometry = {r["key_col"]: (r["n_bits"], r["n_hashes"]) for r in meta}
    if (
        not meta
        or len(meta) != len(geometry)
        or any(None in g for g in geometry.values())
    ):
        raise ValueError(
            f"the bloom store at {bloom_store_path} is empty or records "
            "inconsistent or NULL geometry — run bloom_store_audit and "
            "rebuild it before maintaining it through an erasure"
        )
    return store, {c: (int(b), int(h)) for c, (b, h) in geometry.items()}


def _manifest_damage(
    spark: SparkSession, sink_path: str, man: DataFrame
) -> DataFrame:
    """One row per DAMAGED file: ``(batch, fname, file, damage)`` with
    ``damage`` ∈ stale / unenveloped / mismatch — the audit's own
    disk-vs-manifest join (``streaming.audit._disk_vs_manifest``, on
    (batch, basename)) filtered to its damaged rows. ``file`` is the
    disk-side URI (NULL for stale rows — dropping them needs no URI).
    This frame is what ``repair_manifest`` collects, so the driver
    holds rows ∝ damage, never the file inventory."""
    return _disk_vs_manifest(spark, sink_path, man).select(
        "batch",
        "fname",
        "file",
        F.when(F.col("disk_rows").isNull(), F.lit("stale"))
        .when(F.col("manifest_rows").isNull(), F.lit("unenveloped"))
        .when(
            F.col("disk_rows") != F.col("manifest_rows"), F.lit("mismatch")
        )
        .alias("damage"),
    ).filter(F.col("damage").isNotNull())


def repair_manifest(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> DataFrame:
    """Detect-and-REPAIR for the zone-map manifest — the pairing
    ``manifest_consistency_audit`` was missing (the audit reports
    stale rows, unenveloped files and row-count drift; this fixes
    them, the q213 unknown-member-repair loop applied to the storage
    layer). Each damage class maps to one action:

    * stale rows (manifest points at a file no longer on disk —
      a retired/deleted file whose refresh never ran): DROPPED;
    * unenveloped files (on disk, never recorded — a crash between a
      data write and its manifest write, e.g. erasure crash window
      (c)): stats collected and ENVELOPED, one scan of exactly those
      files per footer-schema group (the erase_rows convention — a
      mixed-schema scan would pad pre-evolution files with merged
      columns);
    * row-count mismatches (both present, counts disagree — stats from
      a different write than what survived): RE-SCANNED with the
      unenveloped files.

    Only the damaged batches' manifest partitions are rebuilt
    (driver-side, metadata-sized row sets, dynamic overwrite — the
    erase_rows refresh discipline); a batch whose repaired row set is
    empty has its partition dropped (the emptied-batch convention).
    Detection needs the audit's per-file row counts, so the cost is
    one narrow count scan of the sink plus one stats scan of only the
    damaged files — incident response, not a hot path. Damage
    CLASSIFICATION is a full-outer DataFrame join (the audit's own
    shape), and the driver collects only the damaged rows plus the
    damaged BATCHES' surviving manifest rows (needed to rebuild those
    partitions) — never the full file inventory: on a 10⁷-file sink
    with three damaged files in one batch, the collect is three rows
    plus that batch's row set (r12, VERDICT r11 item 3).

    A manifest directory with NO partitions left (a whole-table
    erasure drops every one) is consistent iff the sink holds no data
    rows — there is no recorded schema to re-envelope into, so repair
    reports rather than invents one.

    Returns one row: ``(n_stale_rows_dropped, n_files_reenveloped,
    n_count_refreshed, n_batches_repaired, consistent_after)`` where
    ``consistent_after`` re-runs the audit's criteria post-repair."""
    return spark.createDataFrame(
        [
            (
                *_reconcile_manifest(spark, sink_path, manifest_path),
                _audit_ok(spark, sink_path, manifest_path),
            )
        ],
        "n_stale_rows_dropped BIGINT, n_files_reenveloped BIGINT, "
        "n_count_refreshed BIGINT, n_batches_repaired BIGINT, "
        "consistent_after BOOLEAN",
    )


def _reconcile_manifest(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> tuple[int, int, int, int]:
    """:func:`repair_manifest` without its closing audit: drop stale
    rows, envelope unenveloped files, re-scan mismatched ones. Returns
    ``(n_stale_rows_dropped, n_files_reenveloped, n_count_refreshed,
    n_batches_repaired)``; ``repair_erasure`` runs it and audits once
    at its own end."""
    _require_dir(spark, manifest_path, "repair_manifest: manifest")
    if not _has_parquet(spark, manifest_path):
        # no recorded schema to re-envelope into: report, don't invent
        return 0, 0, 0, 0
    man = spark.read.parquet(manifest_path)
    dmg_rows = _manifest_damage(spark, sink_path, man).collect()
    stale = [r for r in dmg_rows if r["damage"] == "stale"]
    unenv = [r for r in dmg_rows if r["damage"] == "unenveloped"]
    mismatch = [r for r in dmg_rows if r["damage"] == "mismatch"]
    affected = sorted({int(r["batch"]) for r in dmg_rows})
    rescan = unenv + mismatch
    fresh_rows = []
    if rescan:
        # one stats scan per footer-schema group of the damaged files
        # (the shared erase_rows refresh helper — same NULL-padding and
        # casting policy, so the two paths cannot drift)
        groups: dict[tuple, list[str]] = {}
        for r in rescan:
            sch = spark.read.parquet(r["file"]).schema
            sig = tuple((f.name, f.dataType.simpleString()) for f in sch)
            groups.setdefault(sig, []).append(r["file"])
        fresh_rows = _fresh_stat_rows(spark, sink_path, groups, man.schema)
    if affected:
        fs, hpath = _fs(spark, manifest_path)
        # the damaged batches' SURVIVING rows, via anti-join against
        # the damaged (batch, basename) keys — collected because the
        # dynamic overwrite rebuilds whole partitions driver-side (it
        # must not read the path it writes); bounded by the damaged
        # batches' file counts, never the sink's
        base = F.element_at(F.split("file", "/"), -1)
        bad_keys = spark.createDataFrame(
            [
                (int(r["batch"]), r["fname"])
                for r in dmg_rows
                if r["damage"] != "unenveloped"
            ]
            or [(-1, "")],
            "b BIGINT, fname STRING",
        )
        keep = (
            man.withColumn("b", F.col("batch").cast("long"))
            .withColumn("fname", base)
            .filter(F.col("b").isin(affected))
            .join(bad_keys, ["b", "fname"], "left_anti")
            .select(man.columns)
            .collect()
        )
        refreshed = keep + fresh_rows
        if refreshed:
            replace_batches(
                spark.createDataFrame(refreshed, man.schema), manifest_path
            )
        refreshed_batches = {int(r["batch"]) for r in refreshed}
        for b in affected:
            if b not in refreshed_batches:
                fs.delete(hpath(f"{manifest_path}/batch={b}"), True)
    return len(stale), len(unenv), len(mismatch), len(affected)


def _audit_ok(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> bool:
    """The manifest-consistency verdict, defined for the emptied
    manifest too: a manifest with no partitions left (whole-table
    erasure) is consistent iff the sink holds no data rows. A
    manifest path that does not exist at all raises — an operator
    typo must never read as consistent."""
    _require_dir(spark, manifest_path, "manifest audit: manifest")
    if not _has_parquet(spark, manifest_path):
        # a parquet-less sink (out-of-band damage — our own lifecycle
        # always leaves zero-row schema files) counts as empty: the
        # verdict must be a boolean, not an AnalysisException
        return not _has_parquet(spark, sink_path) or (
            spark.read.parquet(sink_path).limit(1).count() == 0
        )
    return bool(
        manifest_consistency_audit(spark, sink_path, manifest_path)
        .collect()[0]["consistent"]
    )


def repair_erasure(
    spark: SparkSession, sink_path: str, manifest_path: str
) -> DataFrame:
    """Recover a sink from a CRASHED ``erase_rows`` call AND finish the
    delete — the repair face of the documented crash windows (module
    docstring), completing the detect→repair pairing the repo uses
    elsewhere. Three phases:

    1. **Roll the current group's swap forward.** ``.erase_commit.json``
       present means the staged survivors are durable (the marker is
       written only after the staging write commits — deliberately not
       the writer's ``_SUCCESS`` file, which clusters can disable), and
       repair runs the plan through ``_roll_forward`` — the very swap
       ``erase_rows`` runs, which skips every step the crashed call
       already did: retire the planned candidates still present, land
       the staged survivors not yet landed, land the zero-row
       schema-bearing file of a batch the plan shows fully emptied.
       Forward is the only acceptable direction once staging is
       durable — the erasure was promised. A staging tree WITHOUT the
       commit marker is torn (crash inside the staging write, sink
       untouched) and is discarded.
    2. **Reconcile the manifest** as :func:`repair_manifest` does
       (retired files' rows dropped, landed files enveloped), without
       its closing audit: repair audits once, at its end.
    3. **RESUME the erasure.** The resumability journal
       (``.erase_keys`` + ``.erase_intent.json``, written once before
       any group mutates the sink) outlives every crash window, and a
       multi-schema erasure may have crashed before LATER groups even
       started — rolling forward only the current group would leave
       those groups' subject rows on disk while reporting success, a
       partial compliance delete disguised as a repaired one. Repair
       re-runs ``erase_rows``' body (``_erase_rows``, past the public
       call's refusal of a pending journal) from the journaled keys
       (idempotent:
       already-erased batches rewrite conservatively with zero rows
       erased), so ``consistent_after`` certifies the COMPLETE delete.
       The journal is retired by REPAIR itself after the resume
       returns (r12): the resumed call deletes it only when it found
       candidate groups, so a no-op resume would otherwise leave it
       behind as a permanent vacuum-refusal loop. A journaled
       ``bloom_store_path`` is handed straight to
       :func:`bloom.repair_bloom_store` BEFORE the resume (its
       classification is the audit's, and a current store costs no
       re-collection) — a crash between the sink swap and the store
       refresh leaves the store stale in ways a no-op resume would
       never touch. A manifest the
       roll-forward fully emptied (whole-table opt-out) means nothing
       is enveloped anywhere: the resume is skipped as
       nothing-left-to-erase and the journal retired, with
       ``consistent_after`` true iff the sink holds no data rows.

    Idempotent: a second call finds no residue and repairs nothing.
    Driver-side work is metadata-sized (journals, listings, renames);
    the resume is a normal erasure, data-proportional only to what is
    still enveloped.

    Returns one row: ``(found_residue, rolled_forward,
    n_files_retired, n_files_landed, n_batches_emptied,
    n_stale_rows_dropped, n_files_reenveloped, erasure_resumed,
    n_rows_erased_on_resume, consistent_after)``."""
    fs, hpath = _fs(spark, sink_path)
    commit_path = f"{sink_path}/{_COMMIT}"
    intent_path = f"{sink_path}/{_INTENT}"
    keys_path = f"{sink_path}/{_KEYS}"
    has_commit = fs.exists(hpath(commit_path))
    has_intent = fs.exists(hpath(intent_path))
    found = any(fs.exists(hpath(f"{sink_path}/{n}")) for n in _ERASE_RESIDUE)
    landed: dict[int, list[str]] = {}
    emptied: list[int] = []
    retired = 0
    if has_commit:
        landed, emptied, retired = _roll_forward(
            spark,
            sink_path,
            manifest_path,
            json.loads(_read_text(spark, commit_path)),
        )
    # residue cleanup (either direction; a staging tree without the
    # commit marker is torn — the sink was never touched before the
    # marker, so discarding it is safe)
    for n in (_STAGING, _TRASH, _COMMIT, _EMPTY):
        fs.delete(hpath(f"{sink_path}/{n}"), True)
    n_stale, n_reenveloped, _, _ = _reconcile_manifest(
        spark, sink_path, manifest_path
    )
    # the whole-table branch below retires the journal only once the
    # closing audit passes
    retire_if_consistent = False
    resumed = False
    resumed_erased = 0
    if has_intent and fs.exists(hpath(keys_path)):
        # phase 3: finish the whole delete from the resumability
        # journal — groups the crashed call never reached are still
        # pending.
        intent = json.loads(_read_text(spark, intent_path))
        store_path = intent.get("bloom_store_path")
        if store_path is not None and not _has_parquet(spark, store_path):
            # the journaled store vanished (deleted after the crash, or
            # a whole-table erasure dropped its every partition): there
            # is nothing left to maintain, and resuming WITH the path
            # would abort on the store read — with the journal still on
            # disk, the exact refusal loop the r12 retirement fix
            # exists to prevent
            store_path = None
        if store_path is not None:
            # reconcile the journaled store BEFORE resuming: the crash
            # may have hit between the sink swap and the store refresh
            # (stale n_keys / orphan batch partitions), and the resume
            # recomputes its candidates from the POST-erasure manifest —
            # an empty candidate set would skip the refresh and leave
            # the store stale while repair reports consistent. Repair
            # also drops store rows for columns the sink no longer
            # holds, which the resumed erase_rows' entry validation
            # would otherwise refuse.
            from .bloom import repair_bloom_store

            repair_bloom_store(spark, sink_path, store_path)
        if _has_parquet(spark, manifest_path):
            journaled = spark.read.parquet(keys_path).localCheckpoint(
                eager=True  # sever lineage: the resume overwrites the path
            )
            rrep = _erase_rows(
                spark,
                sink_path,
                manifest_path,
                intent["key_cols"],
                journaled,
                None,
                store_path,
            ).collect()
            resumed_erased = sum(int(r["rows_erased"]) for r in rrep)
            # retire the journal HERE: the resumed call deletes it only
            # when it found candidate groups, so a no-op resume (keys
            # outside every surviving envelope) would otherwise leave
            # it forever — every later vacuum_maintenance refusing and
            # every repair re-running a no-op, a permanent refusal loop
            # escapable only by force. The resume RAN to completion, so
            # the delete is finished regardless of candidate count.
            _retire_erase_journal(spark, sink_path)
        else:
            # the crashed erasure emptied EVERY batch (whole-table
            # opt-out) and roll-forward dropped every manifest
            # partition — nothing is enveloped anywhere, so nothing is
            # left to erase; resuming would abort on the schema-less
            # manifest read. Retire the journal ONLY once the audit
            # confirms the sink holds no rows: a manifest lost
            # OUT-OF-BAND while the sink still holds subject rows makes
            # the journal the last record of what to erase — destroying
            # it would leave consistent_after=false as the sole signal
            # (ADVICE r12). Kept journal = found_residue on the next
            # repair, so the inconsistency stays loud.
            retire_if_consistent = True
        resumed = True
    else:
        # crash before the journal finished writing: nothing ran, the
        # leftovers are inert
        _retire_erase_journal(spark, sink_path)
    # the one audit, on every path
    consistent = _audit_ok(spark, sink_path, manifest_path)
    if retire_if_consistent and consistent:
        _retire_erase_journal(spark, sink_path)
    return spark.createDataFrame(
        [
            (
                found,
                has_commit,
                retired,
                sum(map(len, landed.values())),
                len(emptied),
                n_stale,
                n_reenveloped,
                resumed,
                resumed_erased,
                consistent,
            )
        ],
        "found_residue BOOLEAN, rolled_forward BOOLEAN, "
        "n_files_retired BIGINT, n_files_landed BIGINT, "
        "n_batches_emptied BIGINT, n_stale_rows_dropped BIGINT, "
        "n_files_reenveloped BIGINT, erasure_resumed BOOLEAN, "
        "n_rows_erased_on_resume BIGINT, consistent_after BOOLEAN",
    )


def vacuum_maintenance(
    spark: SparkSession, sink_path: str, force: bool = False
) -> DataFrame:
    """Delete maintenance residue left under a sink by CRASHED
    erasures/compactions — the disk-leak and compliance closure for
    the hidden trees (a successful ``erase_rows`` / ``compact_batch``
    already deletes its own staging and trash before returning; what
    accumulates is crash residue, and its trash generations hold
    pre-erasure bytes that compliance wants gone).

    Refuses (raises) instead of deleting when the residue is still
    LOAD-BEARING, so a vacuum can never destroy the only copy:

    * an erasure plan with a completed staging write is
      roll-forwardable — run :func:`repair_erasure` first (vacuuming
      would discard the staged survivor rows: data loss);
    * a ``.compact_trash_batch=N`` whose live ``batch=N`` partition is
      missing holds the partition's only copy — run
      :func:`formats.repair_compaction` first.

    ``force=True`` overrides both guards (documented data loss — an
    operator decision, never a default). Returns one row:
    ``(n_paths_removed, n_files_removed)``."""
    fs, hpath = _fs(spark, sink_path)
    if not force and (
        fs.exists(hpath(f"{sink_path}/{_COMMIT}"))
        or fs.exists(hpath(f"{sink_path}/{_INTENT}"))
    ):
        raise ValueError(
            "vacuum_maintenance: a crashed erasure left its journal "
            "behind (a committed staging tree to roll forward and/or a "
            "resumable key list) — run repair_erasure first (vacuuming "
            "now would discard staged survivor rows and abandon the "
            "unfinished compliance delete), or pass force=True to "
            "accept the loss"
        )
    residue = [f"{sink_path}/{n}" for n in _ERASE_RESIDUE]
    for st in fs.listStatus(hpath(sink_path)):
        name = st.getPath().getName()
        if name.startswith((_COMPACT_STAGING, _COMPACT_COMMIT)):
            residue.append(st.getPath().toString())
        elif name.startswith(_COMPACT_TRASH):
            b = name.split("=", 1)[1]
            if not force and not fs.exists(
                hpath(f"{sink_path}/batch={b}")
            ):
                raise ValueError(
                    f"vacuum_maintenance: {name} holds the only copy "
                    f"of batch {b} (its live partition is missing — a "
                    "compaction crashed mid-swap); run "
                    "repair_compaction first, or pass force=True to "
                    "accept the loss"
                )
            residue.append(st.getPath().toString())
    n_paths = n_files = 0
    for p in residue:
        if not fs.exists(hpath(p)):
            continue
        if fs.getFileStatus(hpath(p)).isDirectory():
            it = fs.listFiles(hpath(p), True)
            while it.hasNext():
                it.next()
                n_files += 1
        else:
            n_files += 1
        fs.delete(hpath(p), True)
        n_paths += 1
    return spark.createDataFrame(
        [(n_paths, n_files)],
        "n_paths_removed BIGINT, n_files_removed BIGINT",
    )
