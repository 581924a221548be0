"""End-to-end ELT acceptance against BASELINE.md anchors (intended
semantics) and the workbook's cached pivot goldens (observed-Excel), plus
a seeded generated CSV checked against its generator's ground truth (runs
without the reference CSV)."""

from collections import defaultdict
from decimal import Decimal
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from superstore_data_pipeline_analytics_dashboard__spark.plans import (
    superstore_pipeline as P,
)


def test_staging_and_dedup_counts(superstore_layers):
    assert superstore_layers["stg_all"].count() == 9994
    assert superstore_layers["stg"].count() == 9986


def test_staging_sums_match_baseline(superstore_layers):
    """BASELINE.md: pre-dedup ΣSales 2,297,200.8603 ΣProfit 286,397.0217
    ΣQty 37,873; post-dedup 2,295,509.5723 / 286,013.8196."""
    pre = superstore_layers["stg_all"].agg(
        F.sum("Sales").alias("s"), F.sum("Profit").alias("p"), F.sum("Quantity").alias("q")
    ).first()
    assert pre["s"] == Decimal("2297200.8603")
    assert pre["p"] == Decimal("286397.0217")
    assert pre["q"] == 37873
    post = superstore_layers["stg"].agg(
        F.sum("Sales").alias("s"), F.sum("Profit").alias("p")
    ).first()
    assert post["s"] == Decimal("2295509.5723")
    assert post["p"] == Decimal("286013.8196")


def test_qa_issue_counters(superstore_layers):
    got = {r["IssueType"]: r["RowCount"] for r in superstore_layers["qa_issues"].collect()}
    assert got == {
        "NULL_DATES": 0,
        "NEGATIVE_PROFIT": 1870,
        "INCONSISTENT_GEOGRAPHY": 0,
    }


def test_dimension_row_counts(superstore_layers):
    expected = {
        "dim_date": 1464,
        "dim_shipmode": 4,
        "dim_category": 3,
        "dim_subcategory": 17,
        "dim_geography": 632,
        "dim_customer": 793,
        "dim_product": 1862,
    }
    for name, n in expected.items():
        assert superstore_layers[name].count() == n, name


def test_date_dim_bounds(superstore_layers):
    row = superstore_layers["dim_date"].agg(
        F.min("Date").alias("lo"), F.max("Date").alias("hi")
    ).first()
    assert str(row["lo"]) == "2014-01-03"
    assert str(row["hi"]) == "2018-01-05"


def test_fact_grain_and_fk_completeness(superstore_layers):
    fact = superstore_layers["fact"]
    assert fact.count() == 9986
    # UQ_OrderLine (SQLproject1.sql:379)
    assert fact.select("OrderID", "OrderLineNo").distinct().count() == 9986
    assert fact.select("SalesKey").distinct().count() == 9986
    for k in ("OrderDateKey", "ShipDateKey", "CustomerKey", "ProductKey",
              "ShipModeKey", "GeographyKey"):
        assert fact.filter(F.col(k).isNull()).count() == 0, k


def test_scd2_single_current_row(superstore_layers):
    for dim, key in (("dim_customer", "CustomerID"), ("dim_product", "ProductID")):
        df = superstore_layers[dim].filter(F.col("IsCurrent"))
        dup = df.groupBy(key).count().filter(F.col("count") > 1).count()
        assert dup == 0, f"{dim}: >1 current row per {key}"


def test_category_rollup_intended_semantics(superstore_layers):
    """BASELINE.md pre-dedup per-category rows/qty (on stg_all)."""
    rows = {
        r["Category"]: r
        for r in P.pivot_by_category(superstore_layers["stg_all"]).collect()
    }
    assert rows["Furniture"]["CountOfSales"] == 2121
    assert rows["Furniture"]["SumOfQuantity"] == 8028
    assert rows["Office Supplies"]["CountOfSales"] == 6026
    assert rows["Office Supplies"]["SumOfQuantity"] == 22906
    assert rows["Technology"]["CountOfSales"] == 1847
    assert rows["Technology"]["SumOfQuantity"] == 6939
    assert rows["Grand Total"]["CountOfSales"] == 9994
    assert rows["Grand Total"]["SumOfQuantity"] == 37873


def test_rows_per_order_year(superstore_layers):
    """BASELINE.md: 1,993 / 2,102 / 2,587 / 3,312 (pre-dedup)."""
    got = {
        r["y"]: r["count"]
        for r in superstore_layers["stg_all"]
        .groupBy(F.year("OrderDate").alias("y"))
        .count()
        .collect()
    }
    assert got == {2014: 1993, 2015: 2102, 2016: 2587, 2017: 3312}


def test_excel_compat_pivot_goldens(spark, reference_csv):
    """The workbook's cached PivotTable1 values (BASELINE.md golden):
    the only published result set of the reference."""
    table = P.excel_compat_table(spark, reference_csv)
    rows = {r["Category"]: r for r in P.pivot_by_category(table).collect()}
    assert rows["Furniture"]["CountOfSales"] == 1169
    assert rows["Furniture"]["SumOfQuantity"] == 4471
    assert rows["Office Supplies"]["CountOfSales"] == 4589
    assert rows["Office Supplies"]["SumOfQuantity"] == 17319
    assert rows["Technology"]["CountOfSales"] == 1726
    assert rows["Technology"]["SumOfQuantity"] == 6477
    assert rows["Grand Total"]["CountOfSales"] == 7484
    assert rows["Grand Total"]["SumOfQuantity"] == 28267


def test_excel_compat_year_month_golden_sample(spark, reference_csv):
    """Spot-check PivotTable2 cached values (BASELINE.md): 2014-01 count 54
    qty 196; 2017-12 count 341 qty 1,266."""
    table = P.excel_compat_table(spark, reference_csv)
    pivot = P.pivot_by_year_month(
        table.withColumnRenamed("OrderDate", "OrderDate")
    )
    got = {
        (r["OrderYear"], r["OrderMonth"]): r
        for r in pivot.collect()
    }
    assert got[(2014, 1)]["CountOfSales"] == 54
    assert got[(2014, 1)]["SumOfQuantity"] == 196
    assert got[(2017, 12)]["CountOfSales"] == 341
    assert got[(2017, 12)]["SumOfQuantity"] == 1266
    assert got[(-1, -1)]["CountOfSales"] == 7484
    assert got[(-1, -1)]["SumOfQuantity"] == 28267


def test_views_shape(superstore_layers):
    assert superstore_layers["v_rolling30"].count() == 9986
    top = superstore_layers["v_top_products_by_subcat"]
    # ≤5 per subcategory is not guaranteed with RANK ties, but ≥5 rows per
    # 17 subcats must exist and every subcat appears
    assert top.select("SubCategory").distinct().count() == 17
    sus = superstore_layers["v_suspicious_discounts"]
    assert sus.filter(F.col("Discount") <= 0).count() == 0


def test_slicer_dashboard_filters_both_pivots(spark, superstore_layers):
    """A11: slicers cross-filter both pivots; filtered counts must sum to
    the slice, not the whole table."""
    out = P.dashboard_superstore(
        superstore_layers, regions=["West"], segments=["Consumer"]
    )
    by_cat = {r["Category"]: r for r in out["by_category"].collect()}
    expected = (
        superstore_layers["stg"]
        .filter((F.col("Region") == "West") & (F.col("Segment") == "Consumer"))
        .count()
    )
    assert by_cat["Grand Total"]["CountOfSales"] == expected
    ym = out["by_year_month"]
    grand = [r for r in ym.collect() if r["OrderYear"] == -1][0]
    assert grand["CountOfSales"] == expected


def test_register_star_views_sql_surface(spark, superstore_layers):
    P.register_star_views(spark, superstore_layers)
    row = spark.sql("""
        SELECT count(*) AS n
        FROM fact JOIN dim_date d ON d.DateKey = fact.OrderDateKey
        WHERE d.Year = 2017
    """).first()
    assert row["n"] == 3310
    top = spark.sql(
        "SELECT count(DISTINCT SubCategory) AS n FROM v_top_products_by_subcat"
    ).first()
    assert top["n"] == 17


# ------------------------------------------- generated CSV (no reference)

GEN_RECORDS, GEN_SEED = 2_000, 5
VIEWS = ("v_rolling30", "v_customer_cohort", "v_top_products_by_subcat", "v_suspicious_discounts")


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    """`run` over a seeded messy CSV from perfbench's generator, with its
    ground truth and kept rows. The cache is cleared first (CLAUDE.md
    plan-shape rule)."""
    from perfbench.gen_messy_csv import generate

    csv = str(tmp_path_factory.mktemp("gen") / "superstore.csv")
    truth, kept = generate(csv, GEN_RECORDS, GEN_SEED)
    spark.catalog.clearCache()
    return P.run(spark, csv), truth, kept


def test_generated_star_matches_generator_truth(generated):
    layers, truth, _ = generated
    got = layers["fact"].agg(
        F.count("*").alias("n"), F.sum("Sales").alias("s"), F.sum("Profit").alias("p"),
        F.sum("Quantity").alias("q"), F.countDistinct("OrderID").alias("o"),
    ).first()
    assert got["n"] == truth["rows_after_dedup"]
    assert got["s"] == Decimal(truth["sum_sales"])
    assert got["p"] == Decimal(truth["sum_profit"])
    assert got["q"] == truth["sum_quantity"]
    assert got["o"] == truth["distinct_orders"]
    assert {k: layers[k].count() for k in truth["dim_rows"]} == truth["dim_rows"]
    qa = {r["IssueType"]: r["RowCount"] for r in layers["qa_issues"].collect()}
    assert qa == truth["qa_issues"]


def test_generated_views_row_counts(generated):
    """Each view's rows, tallied in plain Python from the kept records."""
    layers, _, kept = generated
    profit = defaultdict(lambda: defaultdict(int))
    for r in kept:
        profit[r.subcategory][r.product_id] += r.profit
    top = 0
    for sums in profit.values():
        vals = sorted(sums.values(), reverse=True)
        top += sum(1 for v in vals if 1 + sum(w > v for w in vals) <= 5)
    want = {
        "v_rolling30": len(kept),
        "v_customer_cohort": len({(r.customer_id, r.order_date.year, r.order_date.month)
                                  for r in kept}),
        "v_top_products_by_subcat": top,
        "v_suspicious_discounts": sum(
            r.discount != "0" and not Fraction(1, 20) <= Fraction(r.profit, r.sales) <= Fraction(1, 2)
            for r in kept
        ),
    }
    assert {k: layers[k].count() for k in want} == want


def _leaf_names(plan) -> list[str]:
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_generated_star_lineage_free_and_views_read_memory(generated):
    """`run` materializes the star, so no view rebuilds a dim, re-reads the
    CSV or re-spans the date range: `stg`, `fact` and every dim analyze to
    one `LogicalRDD` leaf, and each view rebuilt from the returned
    `fact`/dims (as a dashboard request does) is served by the view cache
    `run` registered, one `InMemoryTableScan` leaf."""
    layers, _, _ = generated
    for k in ["stg", "fact", *(k for k in layers if k.startswith("dim_"))]:
        assert _leaf_names(layers[k]._jdf.queryExecution().analyzed()) == ["LogicalRDD"], k
    fact = layers["fact"]
    dims = {k[4:]: v for k, v in layers.items() if k.startswith("dim_")}
    for view in VIEWS:
        fn = getattr(P, view)
        df = fn(fact) if view == "v_suspicious_discounts" else fn(fact, dims)
        names = _leaf_names(df._jdf.queryExecution().sparkPlan())
        assert names == ["InMemoryTableScan"], (view, names)


def _small_csv(tmp_path) -> str:
    from perfbench.gen_messy_csv import generate

    csv = str(tmp_path / "superstore.csv")
    generate(csv, 500, GEN_SEED)
    return csv


def test_generated_star_graph_keeps_the_callers_job_group(spark, tmp_path):
    """`run` and `write_star` build the star on pool threads; every job
    they add still runs under the caller's job group, so a trace or span
    that reads jobs by group loses none of them. Marker jobs in their own
    groups bound the job ids the two calls add."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group: str) -> list[int]:
        sc.setJobGroup(group, group)
        spark.range(1).count()
        return tracker.getJobIdsForGroup(group)

    csv = _small_csv(tmp_path)
    try:
        lo = max(marker("star-graph-before"))
        sc.setJobGroup("star-graph", "run + write_star")
        P.write_star(P.run(spark, csv), str(tmp_path / "star"))
        hi = min(marker("star-graph-after"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    added = set(range(lo + 1, hi))
    assert len(added) > 8
    assert added == set(tracker.getJobIdsForGroup("star-graph"))


def test_generated_failed_dim_build_raises_after_its_siblings(spark, tmp_path, monkeypatch):
    """A dim build that fails partway (after a job of its own) fails `run`
    with that same exception, and only once every sibling build has
    finished: no pool thread and no Spark job is left running."""
    import threading

    boom = RuntimeError("customer dim build failed")

    def failing_customer_dim(stg):
        stg.groupBy("CustomerID").count().collect()
        raise boom

    monkeypatch.setattr(P, "build_customer_dim", failing_customer_dim)
    with pytest.raises(RuntimeError) as err:
        P.run(spark, _small_csv(tmp_path))
    assert err.value is boom
    assert not [t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")]
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def test_generated_lifecycle_checkpointed_star_outlives_clear_cache(spark, tmp_path):
    """Only the four views are cached. `clearCache()` releases them and
    leaves CacheManager empty, while the checkpointed `stg`, `fact` and
    dims still answer without the CSV (deleted here, so a re-read would
    fail) — the path a batch loader takes between loads. Runs last in this
    module: its `clearCache()` drops the views `generated` registered."""
    from perfbench.gen_messy_csv import generate

    csv = tmp_path / "superstore.csv"
    generate(str(csv), 500, GEN_SEED)
    layers = P.run(spark, str(csv))
    assert {k for k, df in layers.items() if df.is_cached} == set(VIEWS)
    star = ["stg", "fact", *(k for k in layers if k.startswith("dim_"))]
    before = {k: layers[k].count() for k in star}
    csv.unlink()
    spark.catalog.clearCache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert {k: layers[k].count() for k in star} == before
