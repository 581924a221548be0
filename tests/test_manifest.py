"""Zone-map manifest (sources/manifest.py): stats correctness, pruning
correctness (never drops a matching row), and the clustered-vs-random
selectivity contrast that motivates pairing it with the z-order writer."""

from __future__ import annotations

from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
    collect_file_stats,
    prune_files,
    read_pruned,
)


def _write(spark, path, ordered: bool, n=10_000, files=20):
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 97).alias("v"),
    )
    if ordered:
        # range-partitioned by id: each file owns a contiguous id band
        df.repartitionByRange(files, "id").write.parquet(path)
    else:
        # round-robin: every file spans near-global id bounds
        df.repartition(files).write.parquet(path)


def test_stats_cover_every_row_and_file(spark, tmp_path):
    path = str(tmp_path / "t1")
    _write(spark, path, ordered=True)
    stats = collect_file_stats(spark, path, ["id", "v"])
    rows = stats.collect()
    assert sum(r["n_rows"] for r in rows) == 10_000
    assert all(r["min_id"] <= r["max_id"] for r in rows)
    # global envelope matches the data
    assert min(r["min_id"] for r in rows) == 0
    assert max(r["max_id"] for r in rows) == 9_999


def test_pruned_read_is_exact(spark, tmp_path):
    """Manifest-driven read must return exactly the rows of the range
    predicate — pruning is an optimization, never a filter."""
    path = str(tmp_path / "t2")
    _write(spark, path, ordered=True)
    stats = collect_file_stats(spark, path, ["id"])
    got = sorted(
        r["id"] for r in read_pruned(spark, stats, "id", 1234, 2345).collect()
    )
    assert got == list(range(1234, 2346))


def test_clustered_layout_prunes_random_does_not(spark, tmp_path):
    """The motivating contrast: a range query over a clustered write
    touches few files; the same query over a round-robin write touches
    all of them (zone maps are only as good as the layout)."""
    p_ord = str(tmp_path / "ordered")
    p_rnd = str(tmp_path / "random")
    _write(spark, p_ord, ordered=True)
    _write(spark, p_rnd, ordered=False)
    s_ord = collect_file_stats(spark, p_ord, ["id"])
    s_rnd = collect_file_stats(spark, p_rnd, ["id"])
    n_ord = len(prune_files(s_ord, "id", 100, 600))
    n_rnd = len(prune_files(s_rnd, "id", 100, 600))
    assert n_ord <= 3
    assert n_rnd == s_rnd.count()  # no pruning on the random layout


def test_empty_prune_returns_empty_with_schema(spark, tmp_path):
    path = str(tmp_path / "t3")
    _write(spark, path, ordered=True)
    stats = collect_file_stats(spark, path, ["id"])
    out = read_pruned(spark, stats, "id", 50_000, 60_000)
    assert out.count() == 0
    assert set(out.columns) == {"id", "v"}


def test_zero_row_manifest_raises_clear_error(spark):
    """A manifest with no files cannot lend a schema; the guard fails
    with the actual cause instead of spark.read.parquet()'s opaque
    no-path analysis error (ADVICE r4)."""
    import pytest

    empty = spark.createDataFrame(
        [], "file string, n_rows long, min_id long, max_id long"
    )
    with pytest.raises(ValueError, match="manifest has no files"):
        read_pruned(spark, empty, "id", 0, 10)


def test_every_manifest_writer_lands_one_row_layout(spark, tmp_path):
    """The manifests written by the whole-sink landing, the per-batch
    writer, compaction's refresh and erasure's refresh read back with
    one schema: ``collect_file_stats``' columns plus ``batch``."""
    from superstore_data_pipeline_analytics_dashboard__spark.plans.catalog_queries import (
        _land_partitioned,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.formats import (
        compact_batch,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.manifest import (
        write_batch_stats,
    )
    from superstore_data_pipeline_analytics_dashboard__spark.sources.retention import (
        erase_rows,
    )

    cols = ["id", "v"]
    df = spark.range(300).select(
        "id",
        (F.col("id") % 7).alias("v"),
        (F.col("id") / 100).cast("int").alias("batch"),
    )
    a_sink, a_man = str(tmp_path / "a_sink"), str(tmp_path / "a_man")
    _land_partitioned(spark, df, a_sink, a_man, cols)
    b_sink, b_man = str(tmp_path / "b_sink"), str(tmp_path / "b_man")
    for b in range(3):
        df.filter(F.col("batch") == b).drop("batch").write.parquet(
            f"{b_sink}/batch={b}"
        )
        write_batch_stats(spark, b_sink, b_man, b, cols)

    def partition(man, b):
        return spark.read.option("basePath", man).parquet(f"{man}/batch={b}")

    landed = {
        "_land_partitioned": partition(a_man, 0).schema,
        "write_batch_stats": partition(b_man, 1).schema,
    }
    compact_batch(spark, b_sink, b_man, 0)
    landed["compact_batch"] = partition(b_man, 0).schema
    erase_rows(
        spark, a_sink, a_man, "id", spark.createDataFrame([(150,)], "id long")
    )
    landed["erase_rows"] = partition(a_man, 1).schema
    assert len({s.json() for s in landed.values()}) == 1, landed
    ref = collect_file_stats(spark, f"{b_sink}/batch=2", cols).withColumn(
        "batch", F.lit(2)
    )
    assert [(f.name, f.dataType) for f in landed["erase_rows"]] == [
        (f.name, f.dataType) for f in ref.schema
    ]


def test_input_file_name_in_two_functions():
    """The per-file rollup (``file``, ``n_rows``, ``min_``/``max_``) is
    defined once, in ``manifest.file_stats``, which every manifest
    writer goes through; the only other file-grain scan is the
    disk-vs-manifest join the audit and ``repair_manifest`` share."""
    import ast
    import pathlib

    import superstore_data_pipeline_analytics_dashboard__spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    callers = set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            if any(
                isinstance(n, ast.Attribute) and n.attr == "input_file_name"
                for n in ast.walk(fn)
            ):
                callers.add(f"{path.relative_to(root)}:{fn.name}")
    assert callers == {
        "sources/manifest.py:file_stats",
        "streaming/audit.py:_disk_vs_manifest",
    }


def test_batch_landing_runner_and_first_read_defined_once():
    """A per-batch derived table lands only through
    ``manifest.replace_batches`` (dynamic partition overwrite on
    ``batch``), a streaming sink starts only through
    ``incremental._run_batches`` (the availableNow trigger), and the
    "missing path means first batch" read is only
    ``incremental._read_existing``. Docstrings and comments may name
    them; code may not re-spell them."""
    import ast
    import pathlib

    import superstore_data_pipeline_analytics_dashboard__spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    owners: dict[str, set[str]] = {
        "partitionOverwriteMode": set(),
        "availableNow": set(),
        "PATH_NOT_FOUND": set(),
    }
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for top in tree.body:
            owner = f"{path.relative_to(root)}:{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if id(node) in docstrings:
                        continue
                    token = node.value
                elif isinstance(node, ast.keyword):
                    token = node.arg or ""
                elif isinstance(node, ast.Attribute):
                    token = node.attr
                elif isinstance(node, ast.Name):
                    token = node.id
                else:
                    continue
                for word, found in owners.items():
                    if word in token:
                        found.add(owner)
    assert owners == {
        "partitionOverwriteMode": {"sources/manifest.py:replace_batches"},
        "availableNow": {"streaming/incremental.py:_run_batches"},
        "PATH_NOT_FOUND": {"streaming/incremental.py:_read_existing"},
    }
