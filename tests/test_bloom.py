"""Per-batch Bloom summaries (sources/bloom.py): the no-false-negative
guarantee, pruning power on random layouts where envelopes prune
nothing, determinism, and the NULL policy."""

from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.sources import (
    bloom as B,
)


def _random_layout(spark, tmp_path, n=4000, nbatches=8):
    """Keys scattered across batches by hash — every batch's [min,max]
    envelope spans ~the whole key space, the layout where zone maps
    prune nothing and blooms earn their keep."""
    sink = str(tmp_path / "sink")
    df = spark.range(n).select(
        F.col("id"),
        F.pmod(F.xxhash64("id", F.lit(99)), F.lit(nbatches)).alias("batch"),
    )
    df.write.partitionBy("batch").parquet(sink)
    truth = {
        (int(r["batch"]), int(r["id"])) for r in df.collect()
    }
    return sink, truth


def test_no_false_negatives_exhaustive(spark, tmp_path):
    """EVERY present (batch, key) containment must appear among the
    candidates — checked for every 40th key, via one set comparison."""
    sink, truth = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 16)
    probe = spark.range(0, 4000, 40)
    cand = {
        (int(r["batch"]), int(r["id"]))
        for r in B.bloom_candidates(
            blooms, probe, "id"
        ).collect()
    }
    probed = {p for p in truth if p[1] % 40 == 0}
    assert probed <= cand


def test_prunes_random_layout_envelopes_cannot(spark, tmp_path):
    """On the hash-scattered layout every envelope admits every key;
    the bloom must confine a point lookup to ~its true batch."""
    sink, truth = _random_layout(spark, tmp_path)
    # envelopes: every batch spans nearly [0, 4000) — all 8 admit key 77
    spans = (
        spark.read.option("basePath", sink).parquet(sink)
        .groupBy("batch")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )
    assert all(r["lo"] <= 77 <= r["hi"] for r in spans)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 16)
    keys = spark.createDataFrame([(77,), (1234,), (3999,)], "id BIGINT")
    cand = B.bloom_candidates(blooms, keys, "id").collect()
    true_pairs = {p for p in truth if p[1] in (77, 1234, 3999)}
    got = {(int(r["batch"]), int(r["id"])) for r in cand}
    assert true_pairs <= got
    # 4000 keys over 8 batches at 2^16 bits: fp per key-batch ~3e-5 —
    # the candidate set should be the exact truth here, and must at
    # minimum prune most of the 24 (batch, key) pairs envelopes admit
    assert len(got) <= 6


def test_absent_key_prunes_everything(spark, tmp_path):
    sink, _ = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 16)
    ghost = spark.createDataFrame([(999_999,)], "id BIGINT")
    assert B.bloom_candidates(blooms, ghost, "id").count() == 0


def test_deterministic_and_bounded(spark, tmp_path):
    sink, _ = _random_layout(spark, tmp_path)
    a = B.collect_batch_blooms(spark, sink, "id", n_bits=4096).collect()
    b = B.collect_batch_blooms(spark, sink, "id", n_bits=4096).collect()
    assert sorted((r["batch"], r["bloom_pos"]) for r in a) == sorted(
        (r["batch"], r["bloom_pos"]) for r in b
    )
    assert all(len(r["bloom_pos"]) <= 4096 for r in a)
    assert all(
        0 <= p < 4096 for r in a for p in r["bloom_pos"]
    )


def test_saturated_bloom_degrades_honestly(spark, tmp_path):
    """n_bits far below n_distinct*k: the bloom saturates and admits
    everything — it prunes nothing but NEVER lies about presence (the
    same honest degradation envelopes have on random layouts)."""
    sink, truth = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=64)
    keys = spark.createDataFrame([(77,), (1234,)], "id BIGINT")
    got = {
        (int(r["batch"]), int(r["id"]))
        for r in B.bloom_candidates(blooms, keys, "id").collect()
    }
    assert {p for p in truth if p[1] in (77, 1234)} <= got


def test_read_bloom_pruned_point_lookup(spark, tmp_path):
    """The point-read face: exact rows back, and ONLY candidate batch
    directories opened (path-level pruning a range envelope could not
    provide on this layout)."""
    sink, truth = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 16)
    got = B.read_bloom_pruned(
        spark, sink, blooms, "id", [77, 1234]
    )
    assert sorted(r["id"] for r in got.collect()) == [77, 1234]
    true_batches = {b for (b, k) in truth if k in (77, 1234)}
    opened = {
        int(f.split("/batch=")[1].split("/")[0]) for f in got.inputFiles()
    }
    assert opened >= true_batches and len(opened) <= 4
    # python ints probe an int64 sink column correctly (type cast via
    # the footer — xxhash64 is type-sensitive)
    empty = B.read_bloom_pruned(
        spark, sink, blooms, "id", [999_999]
    )
    assert empty.count() == 0
    assert empty.columns == got.columns


def test_candidate_plan_shape(spark, tmp_path):
    """The candidate join must be the inverted-index equi-join the
    module docstring promises: broadcast hash join on `pos`, no
    CartesianProduct / BroadcastNestedLoopJoin (a pairwise
    array-subset join would appear as one), no Python evaluation."""
    spark.catalog.clearCache()  # plan-SHAPE read (CLAUDE.md rule)
    sink, _ = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 16)
    keys = spark.createDataFrame([(77,), (1234,)], "id BIGINT")
    cand = B.bloom_candidates(blooms, keys, "id")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_null_keys_skipped(spark, tmp_path):
    sink = str(tmp_path / "sink")
    spark.createDataFrame(
        [(1, 0), (None, 0), (2, 1)], "id BIGINT, batch BIGINT"
    ).write.partitionBy("batch").parquet(sink)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1024)
    keys = spark.createDataFrame([(1,), (None,)], "id BIGINT")
    cand = B.bloom_candidates(blooms, keys, "id").collect()
    assert {(int(r["batch"]), int(r["id"])) for r in cand} == {(0, 1)}


def test_read_bloom_pruned_empty_probe_list(spark, tmp_path):
    """An empty values sequence returns the documented empty frame with
    the sink's schema instead of crashing on schema inference."""
    sink, _ = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 16)
    got = B.read_bloom_pruned(spark, sink, blooms, "id", [])
    assert got.count() == 0
    assert got.columns == spark.read.parquet(sink).columns


def test_summary_rows_are_self_describing(spark, tmp_path):
    """r11: summary rows carry the geometry/provenance metadata, and a
    probe that contradicts it is REFUSED instead of silently
    false-negativing (the worst failure mode for a compliance
    delete)."""
    import pytest

    sink, _ = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 16)
    row = blooms.limit(1).collect()[0]
    assert row["key_col"] == "id" and row["key_type"] == "bigint"
    assert row["n_bits"] == 1 << 16 and row["n_hashes"] == 3
    assert row["n_keys"] > 0
    keys = spark.createDataFrame([(77,)], "id BIGINT")
    # widened probe type contradiction
    narrow = spark.createDataFrame([(77,)], "id INT")
    with pytest.raises(TypeError, match="type-sensitive"):
        B.bloom_candidates(blooms, narrow, "id")
    # mixed-geometry store slices are refused outright
    mixed = blooms.unionByName(
        B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 14)
    )
    with pytest.raises(ValueError, match="inconsistent geometry"):
        B.bloom_candidates(mixed, keys, "id")


def test_multi_column_collection_one_scan(spark, tmp_path):
    """k bloomed columns cost ONE scan (a struct-array explode), and
    the per-column summaries are exactly what per-column collection
    would have produced."""
    sink = str(tmp_path / "sink")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") * 7 % 1000).alias("other"),
        F.pmod(F.xxhash64("id", F.lit(5)), F.lit(4)).alias("batch"),
    )
    df.write.partitionBy("batch").parquet(sink)
    multi = B.collect_batch_blooms(
        spark, sink, ["id", "other"], n_bits=1 << 14
    )
    assert sorted(
        r["key_col"] for r in multi.select("key_col").distinct().collect()
    ) == ["id", "other"]
    for c in ("id", "other"):
        single = {
            int(r["batch"]): (list(r["bloom_pos"]), int(r["n_keys"]))
            for r in B.collect_batch_blooms(
                spark, sink, c, n_bits=1 << 14
            ).collect()
        }
        part = {
            int(r["batch"]): (list(r["bloom_pos"]), int(r["n_keys"]))
            for r in multi.filter(F.col("key_col") == c).collect()
        }
        assert single == part
    # one-scan plan: exactly one FileScan of the sink feeds the rows
    spark.catalog.clearCache()
    plan = (
        multi._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1


def test_auto_sized_n_bits_from_measured_ndv(spark, tmp_path):
    """n_bits=None derives a power-of-two size from measured NDV (next
    pow2 >= 16*ndv*k, floor 2^12) — large enough that the store is not
    saturated, and pruning still works."""
    sink, truth = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id")
    bits = {int(r["n_bits"]) for r in blooms.select("n_bits").distinct().collect()}
    assert len(bits) == 1
    n_bits = bits.pop()
    assert n_bits & (n_bits - 1) == 0  # power of two
    # ~500 distinct keys per batch; 16*ndv*3 ≈ 24k → at least 2^15
    assert n_bits >= 1 << 14
    keys = spark.createDataFrame([(77,), (1234,)], "id BIGINT")
    cand = {
        (int(r["batch"]), int(r["id"]))
        for r in B.bloom_candidates(blooms, keys, "id").collect()
    }
    assert cand >= {t for t in truth if t[1] in (77, 1234)}
    assert len(cand) <= 6  # prunes most of the 16 (batch, key) pairs


def test_bloom_store_audit_detects_each_damage_class(spark, tmp_path):
    """The currency contract, closed with detection: a clean store is
    `current`; an out-of-band append (missing), a dropped batch
    (orphan), a replayed batch (count mismatch), a widened sink column
    (type), and a mixed-geometry store each flip their own counter."""
    sink, blm = str(tmp_path / "sink"), str(tmp_path / "blm")

    def land(bid, lo, hi):
        spark.range(lo, hi).select(
            F.col("id"), F.lit(bid).alias("batch")
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch").parquet(sink)

    def rebuild_store():
        B.collect_batch_blooms(
            spark, sink, "id", n_bits=1 << 14
        ).write.mode("overwrite").partitionBy("batch").parquet(blm)

    for b in range(3):
        land(b, b * 100, b * 100 + 100)
    rebuild_store()
    rep = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert rep["current"] and rep["type_ok"] and rep["geometry_ok"]
    assert rep["n_sink_batches"] == rep["n_store_batches"] == 3
    assert not rep["saturated"]

    # (1) out-of-band append: a batch the store never saw
    land(3, 300, 400)
    rep = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert rep["n_missing_batches"] == 1 and not rep["current"]

    # (2) replayed batch: same batch id, different content
    rebuild_store()
    land(2, 200, 350)
    rep = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert rep["n_count_mismatches"] == 1 and not rep["current"]

    # (3) dropped batch: summary row describing nothing on disk
    rebuild_store()
    import shutil

    shutil.rmtree(f"{sink}/batch=3")
    rep = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert rep["n_orphan_batches"] == 1 and not rep["current"]

    # (4) mixed geometry
    rebuild_store()
    extra = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 12)
    extra.filter(F.col("batch") == 0).write.mode("append").partitionBy(
        "batch"
    ).parquet(blm)
    rep = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert not rep["geometry_ok"] and not rep["current"]

    # (5) recorded type no longer matches the sink footer
    rebuild_store()
    tampered = spark.read.parquet(blm).withColumn(
        "key_type", F.lit("int")
    )
    tampered.write.mode("overwrite").partitionBy("batch").parquet(
        str(tmp_path / "blm2")
    )
    rep = B.bloom_store_audit(
        spark, sink, str(tmp_path / "blm2")
    ).collect()[0]
    assert not rep["type_ok"] and not rep["current"]


def test_bloom_store_audit_requires_metadata(spark, tmp_path):
    """A store without the self-describing columns cannot be audited
    for type or currency — refused loudly."""
    import pytest

    sink, _ = _random_layout(spark, tmp_path)
    legacy = B.collect_batch_blooms(
        spark, sink, "id", n_bits=1 << 14
    ).select("batch", F.lit("id").alias("key_col"), "bloom_pos")
    legacy.write.partitionBy("batch").parquet(str(tmp_path / "blm"))
    with pytest.raises(ValueError, match="metadata"):
        B.bloom_store_audit(spark, sink, str(tmp_path / "blm"))


def test_bloom_store_audit_flags_corrupt_positions(spark, tmp_path):
    """An out-of-range recorded position can never match a probe — a
    corrupted store row is a silent false-negative vector, so the
    audit's structural check must flag it."""
    sink, _ = _random_layout(spark, tmp_path)
    blm = str(tmp_path / "blm")
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 14).write.partitionBy(
        "batch"
    ).parquet(blm)
    rep = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert rep["positions_ok"] and rep["current"]
    corrupt = spark.read.parquet(blm).withColumn(
        "bloom_pos",
        F.when(
            F.col("batch") == 0,
            F.array_union("bloom_pos", F.array(F.lit(1 << 20))),
        ).otherwise(F.col("bloom_pos")),
    )
    corrupt.write.mode("overwrite").partitionBy("batch").parquet(
        str(tmp_path / "blm2")
    )
    rep = B.bloom_store_audit(
        spark, sink, str(tmp_path / "blm2")
    ).collect()[0]
    assert not rep["positions_ok"] and not rep["current"]


def _store_snapshot(spark, blm, batches):
    """Sorted content of the given store partitions, for byte-identity
    assertions on batches a repair must not touch."""
    rows = (
        spark.read.parquet(blm)
        .filter(F.col("batch").isin(list(batches)))
        .collect()
    )
    return sorted(
        (int(r["batch"]), r["key_col"], int(r["n_keys"]), tuple(r["bloom_pos"]))
        for r in rows
    )


def test_repair_bloom_store_each_damage_class(spark, tmp_path):
    """The detect→repair pairing for the bloom tier: each audit damage
    class repaired individually — targeted re-collection under the
    store's recorded geometry, orphans dropped — with the audit green
    after and untouched batches' rows byte-identical."""
    sink, blm = str(tmp_path / "sink"), str(tmp_path / "blm")

    def land(bid, lo, hi):
        spark.range(lo, hi).select(
            F.col("id"), F.lit(bid).alias("batch")
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch").parquet(sink)

    def rebuild_store():
        B.collect_batch_blooms(
            spark, sink, "id", n_bits=1 << 14
        ).write.mode("overwrite").partitionBy("batch").parquet(blm)

    for b in range(3):
        land(b, b * 100, b * 100 + 100)
    rebuild_store()

    # a clean store: repair is a no-op (idempotence)
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["current_after"]
    assert (
        rep["n_missing_collected"]
        == rep["n_mismatch_recollected"]
        == rep["n_structural_recollected"]
        == rep["n_orphan_rows_dropped"]
        == 0
    )

    # (1) missing: out-of-band append — collected, others untouched
    land(3, 300, 400)
    before = _store_snapshot(spark, blm, [0, 1, 2])
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_missing_collected"] == 1 and rep["current_after"]
    assert _store_snapshot(spark, blm, [0, 1, 2]) == before
    assert bool(B.bloom_store_audit(spark, sink, blm).collect()[0]["current"])
    # the collected row carries the store's recorded geometry, not a
    # fresh autosize
    got = spark.read.parquet(blm).filter(F.col("batch") == 3).collect()[0]
    assert int(got["n_bits"]) == 1 << 14 and int(got["n_keys"]) == 100

    # (2) count mismatch: replayed batch — re-collected
    land(2, 200, 350)
    before = _store_snapshot(spark, blm, [0, 1, 3])
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_mismatch_recollected"] == 1 and rep["current_after"]
    assert _store_snapshot(spark, blm, [0, 1, 3]) == before
    got = spark.read.parquet(blm).filter(F.col("batch") == 2).collect()[0]
    assert int(got["n_keys"]) == 150

    # (3) orphan: dropped batch — its summary row dropped, partition gone
    import shutil

    shutil.rmtree(f"{sink}/batch=3")
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_orphan_rows_dropped"] == 1 and rep["current_after"]
    assert not (tmp_path / "blm" / "batch=3").exists()

    # (4) structural: corrupted positions — re-collected
    corrupt = spark.read.parquet(blm).withColumn(
        "bloom_pos",
        F.when(
            F.col("batch") == 0,
            F.array_union("bloom_pos", F.array(F.lit(1 << 20))),
        ).otherwise(F.col("bloom_pos")),
    ).localCheckpoint(eager=True)
    corrupt.write.mode("overwrite").partitionBy("batch").parquet(blm)
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_structural_recollected"] == 1 and rep["current_after"]

    # (5) mixed geometry: the minority-geometry row is structural —
    # re-collected under the column's modal (n_bits, n_hashes)
    extra = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 12)
    extra.filter(F.col("batch") == 0).write.mode("append").partitionBy(
        "batch"
    ).parquet(blm)
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_structural_recollected"] >= 1 and rep["current_after"]
    bits = {
        int(r["n_bits"])
        for r in spark.read.parquet(blm).select("n_bits").distinct().collect()
    }
    assert bits == {1 << 14}

    # (6) stale recorded type: every row structural — re-collected
    # under the sink footer's current type
    tampered = (
        spark.read.parquet(blm)
        .withColumn("key_type", F.lit("int"))
        .localCheckpoint(eager=True)
    )
    tampered.write.mode("overwrite").partitionBy("batch").parquet(blm)
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_structural_recollected"] == 3 and rep["current_after"]
    types = {
        r["key_type"]
        for r in spark.read.parquet(blm).select("key_type").distinct().collect()
    }
    assert types == {"bigint"}


def test_repair_bloom_store_drops_vanished_column(spark, tmp_path):
    """A column the sink never held (or no longer holds) is all
    orphans — dropped outright; the healthy column is untouched."""
    sink, blm = str(tmp_path / "sink"), str(tmp_path / "blm")
    spark.range(200).select(
        F.col("id"), (F.col("id") % 2).alias("batch")
    ).write.partitionBy("batch").parquet(sink)
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 13).write.partitionBy(
        "batch"
    ).parquet(blm)
    ghost = (
        spark.read.parquet(blm)
        .withColumn("key_col", F.lit("ghost"))
        .localCheckpoint(eager=True)
    )
    ghost.write.mode("append").partitionBy("batch").parquet(blm)
    rep = {
        r["key_col"]: r
        for r in B.repair_bloom_store(spark, sink, blm).collect()
    }
    assert rep["ghost"]["n_orphan_rows_dropped"] == 2
    assert rep["ghost"]["current_after"] and rep["id"]["current_after"]
    left = {
        r["key_col"]
        for r in spark.read.parquet(blm).select("key_col").distinct().collect()
    }
    assert left == {"id"}
    assert bool(
        B.bloom_store_audit(spark, sink, blm).collect()[0]["current"]
    )


def test_duplicate_summary_row_cannot_false_negative(spark, tmp_path):
    """A replayed append leaves TWO summary rows for one (column,
    batch). Pre-r12 this doubled every exploded position past n_pos
    and silently DROPPED the batch's true containments — a false
    negative, the one failure a bloom must never have. The candidate
    count is now position-distinct (immune), the audit flags the
    duplicate as damage, and the repair dedupes to one fresh row."""
    sink, blm = str(tmp_path / "sink"), str(tmp_path / "blm")
    spark.range(200).select(
        F.col("id"), (F.col("id") % 2).alias("batch")
    ).write.partitionBy("batch").parquet(sink)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 13)
    keys = spark.createDataFrame([(7,), (8,)], "id BIGINT")
    truth = {(0, 8), (1, 7)}  # id 8 is even → batch 0; id 7 odd → 1

    dup = blooms.unionByName(blooms.filter(F.col("batch") == 0))
    cand = {
        (int(r["batch"]), int(r["id"]))
        for r in B.bloom_candidates(dup, keys, "id").collect()
    }
    assert truth <= cand  # no false negatives even WITH the duplicate

    dup.write.partitionBy("batch").parquet(blm)
    audit = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert int(audit["n_duplicate_rows"]) == 1 and not audit["current"]

    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    # ROW counts: both rows of the duplicated pair are damage
    assert rep["n_structural_recollected"] == 2 and rep["current_after"]
    rows0 = (
        spark.read.parquet(blm).filter(F.col("batch") == 0).collect()
    )
    assert len(rows0) == 1 and int(rows0[0]["n_keys"]) == 100
    cand2 = {
        (int(r["batch"]), int(r["id"]))
        for r in B.bloom_candidates(
            spark.read.parquet(blm), keys, "id"
        ).collect()
    }
    assert truth <= cand2


def test_repair_bloom_store_all_orphans_empties_store(spark, tmp_path):
    """A sink that lost every batch leaves the whole store orphaned:
    repair drops every partition (vacuously current — a sink with no
    keys needs no summaries) instead of crashing on the re-audit of a
    no-longer-readable empty directory."""
    import shutil

    sink, blm = str(tmp_path / "sink"), str(tmp_path / "blm")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 2).alias("batch")
    ).write.partitionBy("batch").parquet(sink)
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 13).write.partitionBy(
        "batch"
    ).parquet(blm)
    # the sink keeps a schema-bearing zero-row file (the erasure
    # convention: a zero-row file written INTO the batch dir) but
    # loses every keyed batch
    spark.createDataFrame([], "id BIGINT").coalesce(1).write.parquet(
        f"{sink}/batch=9"
    )
    shutil.rmtree(f"{sink}/batch=0")
    shutil.rmtree(f"{sink}/batch=1")
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_orphan_rows_dropped"] == 2 and rep["current_after"]
    assert not (tmp_path / "blm" / "batch=0").exists()
    assert not (tmp_path / "blm" / "batch=1").exists()


def test_null_geometry_is_structural_damage(spark, tmp_path):
    """A store row with NULL n_bits/n_hashes (out-of-band corruption)
    is unprobeable — the audit must flag it (a NULL comparison would
    otherwise vanish inside the NULL-ignoring MIN and the row would
    read as current) and the repair must re-collect it under the
    column's modal recorded geometry instead of crashing on int(None)
    (ADVICE r12)."""
    sink, blm = str(tmp_path / "sink"), str(tmp_path / "blm")
    for b in range(3):
        spark.range(b * 100, b * 100 + 100).select(
            F.col("id"), F.lit(b).alias("batch")
        ).write.mode("append").partitionBy("batch").parquet(sink)
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 14).write.partitionBy(
        "batch"
    ).parquet(blm)
    bad = (
        spark.read.parquet(blm)
        .filter(F.col("batch") == 1)
        .withColumn("n_bits", F.lit(None).cast("long"))
        .withColumn("n_hashes", F.lit(None).cast("int"))
        .localCheckpoint(eager=True)
    )
    bad.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch").parquet(blm)
    audit = B.bloom_store_audit(spark, sink, blm).collect()[0]
    assert not audit["positions_ok"] and not audit["current"]
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_structural_recollected"] == 1
    assert rep["current_after"]
    fixed = (
        spark.read.parquet(blm).filter(F.col("batch") == 1).collect()[0]
    )
    # re-collected under the modal geometry, not a default
    assert int(fixed["n_bits"]) == 1 << 14 and int(fixed["n_hashes"]) == 3
    assert B.bloom_store_audit(spark, sink, blm).collect()[0]["current"]


def test_repair_all_null_geometry_falls_back_to_default(spark, tmp_path):
    """A column with NO validly-recorded geometry at all (every row's
    n_bits/n_hashes NULL) cannot resolve a modal vote — the repair
    falls back to the module default (1 << 18, 3) rather than
    aborting, and the re-collected store is current."""
    sink, blm = str(tmp_path / "sink"), str(tmp_path / "blm")
    spark.range(0, 100).select(
        F.col("id"), F.lit(0).alias("batch")
    ).write.partitionBy("batch").parquet(sink)
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 12).write.partitionBy(
        "batch"
    ).parquet(blm)
    bad = (
        spark.read.parquet(blm)
        .withColumn("n_bits", F.lit(None).cast("long"))
        .withColumn("n_hashes", F.lit(None).cast("int"))
        .localCheckpoint(eager=True)
    )
    bad.write.mode("overwrite").partitionBy("batch").parquet(blm)
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    assert rep["n_structural_recollected"] == 1 and rep["current_after"]
    row = spark.read.parquet(blm).collect()[0]
    assert int(row["n_bits"]) == 1 << 18 and int(row["n_hashes"]) == 3


def test_probe_requires_metadata(spark, tmp_path):
    """A summary frame without the self-describing columns records no
    geometry to hash the probe under: probing it is refused, not run
    at a guessed geometry that silently false-negatives (here the
    frame was collected at 2^14 bits, not the 2^18 default)."""
    import pytest

    sink, _ = _random_layout(spark, tmp_path)
    blooms = B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 14)
    keys = spark.createDataFrame([(77,)], "id BIGINT")
    for bare in (
        blooms.select("batch", "bloom_pos"),
        blooms.select("batch", "key_col", "bloom_pos"),
    ):
        with pytest.raises(ValueError, match="metadata"):
            B.bloom_candidates(bare, keys, "id")
        with pytest.raises(ValueError, match="metadata"):
            B.read_bloom_pruned(spark, sink, bare, "id", [77])


def test_repair_bloom_store_current_store_skips_reaudit(
    spark, tmp_path, monkeypatch
):
    """The repair's classification covers every way the audit can
    fail, so a store it finds undamaged is reported current without
    re-running the audit — and the audit agrees."""
    sink, _ = _random_layout(spark, tmp_path)
    blm = str(tmp_path / "blm")
    B.collect_batch_blooms(spark, sink, "id", n_bits=1 << 14).write.partitionBy(
        "batch"
    ).parquet(blm)
    audit = B.bloom_store_audit

    def no_audit(*a):
        raise AssertionError("repair re-audited an undamaged store")

    monkeypatch.setattr(B, "bloom_store_audit", no_audit)
    rep = B.repair_bloom_store(spark, sink, blm).collect()[0]
    monkeypatch.setattr(B, "bloom_store_audit", audit)
    assert rep["current_after"]
    assert (
        rep["n_missing_collected"]
        == rep["n_mismatch_recollected"]
        == rep["n_structural_recollected"]
        == rep["n_orphan_rows_dropped"]
        == 0
    )
    assert B.bloom_store_audit(spark, sink, blm).collect()[0]["current"]


def test_one_recollection_and_recorded_geometry_only():
    """The store is collected in exactly three places — batch
    collection, the streaming appender and the one re-collection path
    that repair and erasure share — and no probe in the package or
    tools/ passes a geometry: the rows' recorded one is the only one."""
    import ast
    import pathlib

    import superstore_data_pipeline_analytics_dashboard__spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    collectors = []
    geometry_kw = []
    probes = {"bloom_candidates", "read_bloom_pruned", "erase_rows"}
    for path in [*root.rglob("*.py"), *(root.parent / "tools").glob("*.py")]:
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name == "bloom_summary_rows":
                    collectors.append(getattr(top, "name", path.name))
                if name in probes:
                    geometry_kw += [
                        (path.name, name, k.arg)
                        for k in node.keywords
                        if k.arg and k.arg.endswith(("n_bits", "n_hashes"))
                    ]
    assert sorted(collectors) == [
        "_recollect_store",
        "collect_batch_blooms",
        "start_append_with_manifest",
    ]
    assert geometry_kw == []
