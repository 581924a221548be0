"""End-to-end superstore ELT (SURVEY.md §3.1): the reference's full DAG
re-expressed Spark-first.

    superstore.csv → raw (messy-CSV recovery) → stg (typed) → dedup →
    qa.LoadIssues → dim.Date/ShipMode/Category/SubCategory/Geography →
    dim.Customer+Product (SCD2) → fact.Sales → analytical views

Reference: SQLproject1.sql (cited per stage). Deviations, all documented:
  * Sales/Profit staged as DECIMAL(18,4), not the reference's (18,2) —
    the raw file carries 4 decimals and BASELINE.md's correctness anchors
    (ΣSales 2,297,200.8603) are only reachable losslessly.
  * dedup tie-break is deterministic: keep the LOWEST SourceRowNum
    (file order). The reference orders by IngestedAt/SourceFile which are
    constant within one load (SQLproject1.sql:200-211 — nondeterministic);
    file order is the choice that reproduces BASELINE.md's post-dedup
    sums (2,295,509.5723 / 286,013.8196).
  * surrogate keys are row_number over a stated natural-key order
    (deterministic), not IDENTITY arrival order.
  * WeekOfYear is T-SQL US week (us_week), matching DATEPART(WEEK).

Scale: dims are tiny → broadcast everywhere; the fact build is one pass
over staging with 6 broadcast joins (single shuffle for the line-number
window, partitioned by OrderID). At 100 TB the fact write should be
partitioned by order-date month (write_star does this).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.cleaning import strip_trailing_semicolon, trim_nullif
from ..functions.dates import date_key, day_name, month_name, quarter_name, us_week
from ..functions.hashing import geo_hash_key, scd2_hash_diff
from ..operators.date_spine import date_spine
from ..operators.quality import load_issues
from ..operators.scd2 import scd2_apply, scd2_first_load, snapshot
from ..operators.windows import dedup_keep_first
from ..sources.messy_csv import read_superstore_csv

# -------------------------------------------------------------- staging


def stage_typed(raw: DataFrame) -> DataFrame:
    """stg.Superstore_Typed (SQLproject1.sql:136-196): trim/NULLIF the 13
    string columns, strip-space PostalCode, parse M/d/yyyy dates (the
    INTENT — the reference's style-120 TRY_CONVERT NULLs every row), type
    the measures, strip the stray ';' from Profit."""
    return raw.select(
        trim_nullif("Order ID").alias("OrderID"),
        F.to_date(F.trim("`Order Date`"), "M/d/yyyy").alias("OrderDate"),
        F.to_date(F.trim("`Ship Date`"), "M/d/yyyy").alias("ShipDate"),
        trim_nullif("Ship Mode").alias("ShipMode"),
        trim_nullif("Customer ID").alias("CustomerID"),
        trim_nullif("Customer Name").alias("CustomerName"),
        trim_nullif("Segment").alias("Segment"),
        trim_nullif("Country").alias("Country"),
        trim_nullif("City").alias("City"),
        trim_nullif("State").alias("State"),
        F.nullif(F.replace(F.col("`Postal Code`"), F.lit(" "), F.lit("")), F.lit("")).alias(
            "PostalCode"
        ),
        trim_nullif("Region").alias("Region"),
        trim_nullif("Product ID").alias("ProductID"),
        trim_nullif("Category").alias("Category"),
        trim_nullif("Sub-Category").alias("SubCategory"),
        trim_nullif("Product Name").alias("ProductName"),
        F.col("Sales").try_cast("decimal(18,4)").alias("Sales"),
        F.col("Quantity").try_cast("int").alias("Quantity"),
        F.col("Discount").try_cast("decimal(9,4)").alias("Discount"),
        strip_trailing_semicolon("Profit").try_cast("decimal(18,4)").alias("Profit"),
        F.col("SourceRowNum"),
        F.col("IngestedAt"),
        F.col("SourceFile"),
    )


def dedup_staged(stg: DataFrame) -> DataFrame:
    """W1 (SQLproject1.sql:200-211): keep one row per (OrderID, ProductID).
    Reference order: IngestedAt DESC, SourceFile DESC — constant within a
    load; our deterministic completion is SourceRowNum ASC (file order),
    which reproduces BASELINE.md's post-dedup sums."""
    return dedup_keep_first(
        stg,
        ["OrderID", "ProductID"],
        [F.desc("IngestedAt"), F.desc("SourceFile"), F.asc("SourceRowNum")],
    )


def qa_issues(stg: DataFrame) -> DataFrame:
    """qa.LoadIssues (SQLproject1.sql:223-239) — all three reference rules
    in ONE scan (conditional aggregation) instead of three."""
    return load_issues(
        stg,
        {
            "NULL_DATES": F.col("OrderDate").isNull() | F.col("ShipDate").isNull(),
            "NEGATIVE_PROFIT": F.col("Profit") < 0,
            "INCONSISTENT_GEOGRAPHY": F.col("Region").isNull()
            | F.col("State").isNull()
            | F.col("City").isNull(),
        },
    )


# -------------------------------------------------------------- dimensions

def build_date_dim(spark: SparkSession, stg: DataFrame) -> DataFrame:
    """dim.Date (SQLproject1.sql:248-286): spine over
    [min(OrderDate), max(ShipDate)] with ISNULL defaults; derived parts.
    WeekOfYear = T-SQL DATEPART(WEEK) emulation (us_week)."""
    bounds = stg.agg(
        F.coalesce(F.min("OrderDate"), F.lit("2010-01-01").cast("date")).alias("lo"),
        F.coalesce(F.max("ShipDate"), F.lit("2025-12-31").cast("date")).alias("hi"),
    ).first()
    d = F.col("Date")
    return date_spine(spark, bounds["lo"], bounds["hi"]).select(
        date_key(d).alias("DateKey"),
        d.alias("Date"),
        F.year(d).alias("Year"),
        F.quarter(d).alias("Quarter"),
        F.month(d).alias("Month"),
        F.dayofmonth(d).alias("Day"),
        month_name(d).alias("MonthName"),
        quarter_name(d).alias("QuarterName"),
        us_week(d).alias("WeekOfYear"),
        (day_name(d).isin("Saturday", "Sunday")).alias("IsWeekend"),
    )


def _keyed_distinct(df: DataFrame, col: str, key: str) -> DataFrame:
    vals = df.filter(F.col(col).isNotNull()).select(col).distinct()
    w = Window.orderBy(col)
    return vals.select(F.row_number().over(w).alias(key), F.col(col))


def build_shipmode_dim(stg: DataFrame) -> DataFrame:
    """dim.ShipMode (SQLproject1.sql:390-394) — 4 rows."""
    return _keyed_distinct(stg, "ShipMode", "ShipModeKey")


def build_category_dim(stg: DataFrame) -> DataFrame:
    """dim.Category (SQLproject1.sql:397-401) — 3 rows."""
    return _keyed_distinct(stg, "Category", "CategoryKey")


def build_subcategory_dim(stg: DataFrame, category: DataFrame) -> DataFrame:
    """dim.SubCategory snowflaked off Category (SQLproject1.sql:404-416)."""
    pairs = (
        stg.filter(F.col("SubCategory").isNotNull() & F.col("Category").isNotNull())
        .join(F.broadcast(category), "Category")
        .select("CategoryKey", "SubCategory")
        .distinct()
    )
    w = Window.orderBy("CategoryKey", "SubCategory")
    return pairs.select(
        F.row_number().over(w).alias("SubCategoryKey"), "CategoryKey", "SubCategory"
    )


def _postal_normalized(col: F.Column) -> F.Column:
    """Postal normalization (SQLproject1.sql:424-435): ''/'0' → NULL; if
    int-castable, zero-pad to ≥5; else keep verbatim."""
    p = F.nullif(F.nullif(col, F.lit("")), F.lit("0"))
    as_int = p.try_cast("int")
    padded = F.lpad(as_int.cast("string"), 5, "0")
    keep_long = F.when(F.length(as_int.cast("string")) >= 5, as_int.cast("string")).otherwise(padded)
    return F.when(as_int.isNotNull(), keep_long).otherwise(p)


def build_geography_dim(stg: DataFrame) -> DataFrame:
    """dim.Geography (SQLproject1.sql:315-326, 419-447): distinct 5-tuple,
    normalized postal, persisted MD5 HashKey (hex string — the reference
    stores BINARY(16) of the same bytes). Surrogate keys: row_number over
    the upper-cased natural tuple (deterministic; the reference's NOT
    EXISTS + IDENTITY arrival order is load-order-dependent)."""
    geo = (
        stg.select(
            "Country",
            "State",
            "City",
            "Region",
            _postal_normalized(F.col("PostalCode")).alias("PostalCode"),
        )
        .distinct()
        # case-insensitive dedup (the reference's NOT EXISTS compares UPPER)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(
                    F.upper("Country"), F.upper("State"), F.upper("City"),
                    F.upper("Region"), F.coalesce("PostalCode", F.lit("")),
                ).orderBy("Country", "State", "City", "Region")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    w = Window.orderBy("Country", "State", "City", "Region", "PostalCode")
    return geo.select(
        F.row_number().over(w).alias("GeographyKey"),
        "Country",
        "State",
        "City",
        "Region",
        "PostalCode",
        geo_hash_key(
            F.col("Country"), F.col("State"), F.col("City"), F.col("Region"),
            F.coalesce("PostalCode", F.lit("")),
        ).alias("HashKey"),
    )


_CUSTOMER_ATTRS = ["CustomerName", "Segment", "Region"]


def _customer_snapshot(stg: DataFrame) -> DataFrame:
    return snapshot(stg.filter(F.col("CustomerID").isNotNull()), "CustomerID", _CUSTOMER_ATTRS)


def build_customer_dim(stg: DataFrame) -> DataFrame:
    """dim.Customer SCD2 first load (SQLproject1.sql:450-514): MAX-snapshot
    per CustomerID, SHA2_256 HashDiff, open-ended validity."""
    return scd2_first_load(_customer_snapshot(stg), "CustomerID", _CUSTOMER_ATTRS, "CustomerKey")


def build_product_dim(stg: DataFrame, subcategory: DataFrame, category: DataFrame) -> DataFrame:
    """dim.Product SCD2 first load (SQLproject1.sql:517-560): snapshot per
    (ProductID, SubCategoryKey) with MAX(ProductName) — the reference's fix
    for truncated name variants (SURVEY.md §1.2)."""
    sc = subcategory.join(F.broadcast(category), "CategoryKey").select(
        "SubCategoryKey", "SubCategory", "Category"
    )
    snap = (
        stg.filter(F.col("ProductID").isNotNull())
        .join(F.broadcast(sc), ["Category", "SubCategory"])
        .groupBy("ProductID", "SubCategoryKey")
        .agg(F.max("ProductName").alias("ProductName"))
    )
    w = Window.orderBy("ProductID", "SubCategoryKey")
    return snap.select(
        F.row_number().over(w).alias("ProductKey"),
        "ProductID",
        "ProductName",
        "SubCategoryKey",
        F.lit("1900-01-01").cast("date").alias("EffectiveFrom"),
        F.lit("9999-12-31").cast("date").alias("EffectiveTo"),
        F.lit(True).alias("IsCurrent"),
        scd2_hash_diff(F.col("ProductName"), F.col("SubCategoryKey").cast("string")).alias(
            "HashDiff"
        ),
    )


def apply_customer_delta(dim_customer: DataFrame, stg2: DataFrame, as_of) -> DataFrame:
    """Incremental SCD2 run for a second staged batch (FIXTURES.md F4):
    changed customers expire + get a new current row effective `as_of`,
    new customers insert open-ended, unchanged/departed carry through.
    One full-outer join on CustomerID (operators.scd2.scd2_apply); its
    HashDiffs come from the same snapshot as the first load's."""
    return scd2_apply(
        dim_customer, _customer_snapshot(stg2), "CustomerID", _CUSTOMER_ATTRS,
        "CustomerKey", as_of=as_of,
    )


# -------------------------------------------------------------- fact

def build_fact(stg: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """fact.Sales (SQLproject1.sql:563-617): line numbering within order,
    key resolution via broadcast joins. CROSS APPLY TOP(1) current-version
    lookups reduce to joins against IsCurrent=1 (unique per natural key).
    The reference's OUTER APPLY geography with NOT NULL fact column is a
    latent defect — our geo dim is built from the same staging rows, so
    the inner join is total."""
    w = Window.partitionBy("OrderID").orderBy("ProductID", "ProductName", "SourceRowNum")
    lines = stg.withColumn("OrderLineNo", F.row_number().over(w))

    cust = dims["customer"].filter(F.col("IsCurrent")).select("CustomerID", "CustomerKey")
    prod = dims["product"].filter(F.col("IsCurrent")).select("ProductID", "ProductKey")
    ship = dims["shipmode"].select("ShipMode", "ShipModeKey")
    date_k = dims["date"].select(F.col("Date"), F.col("DateKey"))
    geo = dims["geography"].select(
        F.upper("Country").alias("__ctry"), F.upper("State").alias("__st"),
        F.upper("City").alias("__cty"), F.upper("Region").alias("__rgn"),
        F.coalesce("PostalCode", F.lit("")).alias("__pc"), F.col("GeographyKey"),
    )

    fact = (
        lines.join(F.broadcast(date_k.withColumnRenamed("DateKey", "OrderDateKey")),
                   lines["OrderDate"] == date_k["Date"]).drop("Date")
        .join(F.broadcast(date_k.withColumnRenamed("DateKey", "ShipDateKey")),
              lines["ShipDate"] == date_k["Date"]).drop("Date")
        .join(F.broadcast(ship), "ShipMode")
        .join(F.broadcast(cust), "CustomerID")
        .join(F.broadcast(prod), "ProductID")
        .join(
            F.broadcast(geo),
            (F.upper("Country") == F.col("__ctry"))
            & (F.upper("State") == F.col("__st"))
            & (F.upper("City") == F.col("__cty"))
            & (F.upper("Region") == F.col("__rgn"))
            & (
                F.coalesce(_postal_normalized(F.col("PostalCode")), F.lit(""))
                == F.col("__pc")
            ),
            "left",
        )
    )
    # Surrogate key: deterministic hash of the unique natural key rather
    # than the reference's IDENTITY (arrival-order) or a global-window
    # row_number (which would serialize onto one task at 100 TB). 64-bit
    # xxhash over a unique (OrderID, OrderLineNo) is collision-free here
    # and ~1e-7 birthday risk even at 10^6× this volume.
    return fact.select(
        F.xxhash64("OrderID", "OrderLineNo").alias("SalesKey"),
        "OrderID",
        "OrderLineNo",
        "OrderDateKey",
        "ShipDateKey",
        "CustomerKey",
        "ProductKey",
        "ShipModeKey",
        "GeographyKey",
        "Sales",
        "Quantity",
        "Discount",
        "Profit",
        F.current_timestamp().alias("LoadTS"),
    )


# -------------------------------------------------------------- views

def v_rolling30(fact: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """qa.v_Rolling30 (SQLproject1.sql:628-638): 30-ROW rolling Sales and
    Profit per Region at fact grain. The reference orders by Date only
    (ties → nondeterministic frames); we complete the order with
    (OrderID, OrderLineNo)."""
    df = (
        fact.join(F.broadcast(dims["date"].select("DateKey", "Date")),
                  fact["OrderDateKey"] == F.col("DateKey"))
        .join(F.broadcast(dims["geography"].select("GeographyKey", "Region")), "GeographyKey")
    )
    w = (
        Window.partitionBy("Region")
        .orderBy("Date", "OrderID", "OrderLineNo")
        .rowsBetween(-29, Window.currentRow)
    )
    return df.select(
        "Date",
        "Region",
        "OrderID",
        "OrderLineNo",
        F.sum("Sales").over(w).alias("Sales_30D"),
        F.sum("Profit").over(w).alias("Profit_30D"),
    )


def v_customer_cohort(fact: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """qa.v_CustomerCohort (SQLproject1.sql:645-673): EOMONTH cohort per
    CustomerKey. NOTE reference quirk kept for parity: the orders CTE is
    pre-grouped to one row per (CustomerKey, OrderMonth), so OrdersCount
    is the count of those grouped rows (=1), not of fact rows.

    One distinct and one window: the cohort is the customer's earliest
    OrderMonth, which equals EOMONTH(MIN(Date)) because last_day is
    monotone."""
    months = fact.join(
        F.broadcast(dims["date"].select("DateKey", "Date")),
        fact["OrderDateKey"] == F.col("DateKey"),
    ).select("CustomerKey", F.last_day("Date").alias("OrderMonth")).distinct()
    cohort = F.min("OrderMonth").over(Window.partitionBy("CustomerKey"))
    months_since = (
        (F.year("OrderMonth") * 12 + F.month("OrderMonth"))
        - (F.year("CohortMonth") * 12 + F.month("CohortMonth"))
    ).cast("int")
    return months.select(
        "CustomerKey",
        cohort.alias("CohortMonth"),
        "OrderMonth",
        F.lit(1).cast("bigint").alias("OrdersCount"),
    ).withColumn("MonthsSince", months_since)


def v_top_products_by_subcat(fact: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """qa.v_TopProductsBySubCat (SQLproject1.sql:678-699): profit per
    (SubCategory, ProductName), RANK ≤ 5, DECIMAL(9,4) share-of-subcat."""
    agg = (
        fact.join(
            F.broadcast(dims["product"].select("ProductKey", "ProductName", "SubCategoryKey")),
            "ProductKey",
        )
        .join(F.broadcast(dims["subcategory"].select("SubCategoryKey", "SubCategory")), "SubCategoryKey")
        .groupBy("SubCategory", "ProductName")
        .agg(F.sum("Profit").alias("Profit"))
    )
    w_rank = Window.partitionBy("SubCategory").orderBy(F.desc("Profit"))
    w_tot = Window.partitionBy("SubCategory")
    share = (F.col("Profit") / F.nullif(F.sum("Profit").over(w_tot), F.lit(0))).cast(
        "decimal(9,4)"
    )
    return (
        agg.withColumn("rnk", F.rank().over(w_rank))
        .withColumn("ProfitShare", share)
        .filter(F.col("rnk") <= 5)
        .select("SubCategory", "ProductName", "Profit", "ProfitShare")
    )


def v_suspicious_discounts(fact: DataFrame) -> DataFrame:
    """qa.v_SuspiciousDiscounts (SQLproject1.sql:705-715): discounted lines
    whose margin is not in [0.05, 0.50]. The reference's self-anti-join is
    on the unique line key — it reduces to a filter (SURVEY.md J12)."""
    margin = F.col("Profit") / F.nullif(F.col("Sales"), F.lit(0))
    return fact.filter(
        (F.col("Discount") > 0) & (margin.isNull() | ~margin.between(0.05, 0.50))
    ).select("OrderID", "OrderLineNo", "Sales", "Discount", "Profit")


# -------------------------------------------------------------- dashboard

def pivot_by_category(stg_or_table: DataFrame) -> DataFrame:
    """PivotTable1 "By Category" (A8): count of Sales, count of Profit,
    sum of Quantity, with rollup grand total."""
    # grouping() discriminates the rollup total from a genuine NULL
    # Category base group (coalesce alone would conflate them)
    return (
        stg_or_table.rollup("Category")
        .agg(
            F.count("Sales").alias("CountOfSales"),
            F.count("Profit").alias("CountOfProfit"),
            F.sum("Quantity").alias("SumOfQuantity"),
            F.grouping("Category").alias("__g"),
        )
        .select(
            F.when(F.col("__g") == 1, F.lit("Grand Total"))
            .otherwise(F.coalesce("Category", F.lit("(null)")))
            .alias("Category"),
            "CountOfSales",
            "CountOfProfit",
            "SumOfQuantity",
        )
    )


def pivot_by_year_month(stg_or_table: DataFrame) -> DataFrame:
    """PivotTable2 "By Year/Month" (A9): year→month rollup of the same
    three measures."""
    df = stg_or_table.withColumn("OrderYear", F.year("OrderDate")).withColumn(
        "OrderMonth", F.month("OrderDate")
    )
    # grouping() discriminates subtotal rows from genuine NULL-date base
    # groups (qa_issues anticipates NULL OrderDate rows)
    return (
        df.rollup("OrderYear", "OrderMonth")
        .agg(
            F.count("Sales").alias("CountOfSales"),
            F.count("Profit").alias("CountOfProfit"),
            F.sum("Quantity").alias("SumOfQuantity"),
            F.grouping("OrderYear").alias("__gy"),
            F.grouping("OrderMonth").alias("__gm"),
        )
        .select(
            F.when(F.col("__gy") == 1, F.lit(-1))
            .otherwise(F.coalesce("OrderYear", F.lit(-2)))
            .alias("OrderYear"),
            F.when(F.col("__gm") == 1, F.lit(-1))
            .otherwise(F.coalesce("OrderMonth", F.lit(-2)))
            .alias("OrderMonth"),
            "CountOfSales",
            "CountOfProfit",
            "SumOfQuantity",
        )
    )


def excel_compat_table(spark: SparkSession, csv_path: str) -> DataFrame:
    """The observed-Excel 7,484-row table (SURVEY.md §1.4): double-encoded
    rows dropped, Sales/Discount/Profit kept as TEXT (so pivots can only
    COUNT them), 4 derived date columns added (Section1.m F16)."""
    t = read_superstore_csv(spark, csv_path, compat_excel=True)
    od = F.to_date(F.trim("`Order Date`"), "M/d/yyyy")
    return (
        t.withColumn("OrderDate", od)
        .withColumn("Order Year", F.year(od))
        .withColumn("Order Month Name", F.date_format(od, "MMMM"))
        .withColumn("Order Quarter", F.quarter(od))
        .withColumn("Order Month Number", F.month(od))
        .withColumnRenamed("Sales", "SalesText")
        .withColumn("Sales", F.col("SalesText"))
        .withColumn("Quantity", F.col("Quantity").try_cast("int"))
    )


def dashboard_superstore(
    layers: dict[str, DataFrame],
    regions: list[str] | None = None,
    segments: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Entry point 3 (SURVEY.md §3.3): the slicer-filtered dashboard.
    Region + Segment slicers (A11) filter the staged table before both
    pivot aggregates recompute — exactly the pivot-cache dataflow, with
    `layers['stg']` (materialized by `run`) as the pivot-cache analog."""
    t = layers["stg"]
    if regions:
        t = t.filter(F.col("Region").isin(regions))
    if segments:
        t = t.filter(F.col("Segment").isin(segments))
    return {
        "by_category": pivot_by_category(t),
        "by_year_month": pivot_by_year_month(t),
    }


def register_star_views(spark: SparkSession, layers: dict[str, DataFrame]) -> None:
    """Expose every layer + analytical view to `spark.sql` (the serving
    surface the reference gives via qa.v_* views, SQLproject1.sql:626-716)."""
    for name, df in layers.items():
        df.createOrReplaceTempView(name)


# -------------------------------------------------------------- runner

def _concurrently(spark: SparkSession, *builds: Callable[[], object]) -> list:
    """Run independent zero-argument star builds at once, one thread each,
    and return their results in order.

    The star's builds are small jobs whose time is mostly scheduling latency
    between them, so overlapping them shortens a load; their results do
    not depend on the schedule. Each target is wrapped by
    ``inheritable_thread_target`` in the caller's thread, one wrap per
    build: in pinned-thread mode a pool thread would otherwise run its
    jobs without the caller's job group and local properties, and one
    wrap per build gives each thread its own copy of them, so concurrent
    SQL executions never share one ``Properties``. A build's exception is
    re-raised by ``result()``, after the pool has waited for every
    sibling, so no job of the graph is left running."""
    with ThreadPoolExecutor(len(builds)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(b)) for b in builds]
    return [f.result() for f in futures]


def run(spark: SparkSession, csv_path: str) -> dict[str, DataFrame]:
    """Execute the full DAG; returns every layer keyed by name. The
    materialized frames mirror the reference's #temp/pivot-cache reuse
    points and its fixed ``qa.v_*`` serving surface.

    Nine frames come back checkpointed: ``stg``, ``fact`` and the seven
    ``dim_*``. Each is materialized eagerly (``localCheckpoint``) as it is
    built, so its plan is one ``LogicalRDD`` leaf instead of the nested
    build plans beneath it (fact → six dims → ``stg`` → CSV parse): the
    later dims, the fact's broadcast joins, ``write_star`` and every view
    read one materialized copy, and no consumer re-analyzes, re-matches or
    re-plans the build. Their blocks are released by Spark's ContextCleaner
    once the frames are garbage-collected; ``clearCache()`` does not touch
    them.

    The dims are built as a dependency graph, not a sequence: once ``stg``
    is checkpointed, date, shipmode, geography, customer and the
    category → subcategory → product chain (in that order, in one build)
    run concurrently through ``_concurrently``; the fact then joins them.
    Every dim has a total ``row_number`` order, so the checkpointed rows
    are the rows a sequential build gives.

    The four ``v_*`` frames come back cached (lazily, on first action): a
    request that rebuilds a view from the returned ``fact``/``dims``
    matches it and is served by one in-memory scan. A long-lived caller
    releases them with ``spark.catalog.clearCache()``, or per frame with
    ``unpersist()``."""
    raw = read_superstore_csv(spark, csv_path)
    stg_all = stage_typed(raw)
    stg = dedup_staged(stg_all).localCheckpoint()

    def snowflake() -> tuple[DataFrame, DataFrame, DataFrame]:
        category = build_category_dim(stg).localCheckpoint()
        subcategory = build_subcategory_dim(stg, category).localCheckpoint()
        product = build_product_dim(stg, subcategory, category).localCheckpoint()
        return category, subcategory, product

    # the chain is the longest build: submitted first
    (category, subcategory, product), date, shipmode, geography, customer = _concurrently(
        spark,
        snowflake,
        lambda: build_date_dim(spark, stg).localCheckpoint(),
        lambda: build_shipmode_dim(stg).localCheckpoint(),
        lambda: build_geography_dim(stg).localCheckpoint(),
        lambda: build_customer_dim(stg).localCheckpoint(),
    )
    dims = {
        "date": date, "shipmode": shipmode, "category": category,
        "subcategory": subcategory, "geography": geography,
        "customer": customer, "product": product,
    }

    fact = build_fact(stg, dims).localCheckpoint()

    return {
        "raw": raw,
        "stg_all": stg_all,
        "stg": stg,
        "qa_issues": qa_issues(stg),
        **{f"dim_{k}": v for k, v in dims.items()},
        "fact": fact,
        "v_rolling30": v_rolling30(fact, dims).cache(),
        "v_customer_cohort": v_customer_cohort(fact, dims).cache(),
        "v_top_products_by_subcat": v_top_products_by_subcat(fact, dims).cache(),
        "v_suspicious_discounts": v_suspicious_discounts(fact).cache(),
        "pivot_by_category": pivot_by_category(stg),
    }


def write_star(layers: dict[str, DataFrame], out_dir: str) -> None:
    """Persist the star as parquet: the seven dims and the fact, each into
    its own directory, written concurrently through ``_concurrently``
    (the directories are disjoint, so no write sees another's files).
    The fact is partitioned by order-year-month (OrderDateKey div 100) —
    the Spark equivalent of the reference's IX_Fact_Date covering index:
    partition pruning replaces index seeks (SURVEY.md §4)."""

    def write_dim(name: str) -> Callable[[], None]:
        return lambda: layers[name].write.mode("overwrite").parquet(f"{out_dir}/{name}")

    def write_fact() -> None:
        (
            layers["fact"]
            .withColumn("OrderYearMonth", (F.col("OrderDateKey") / 100).cast("int"))
            # sort within each month partition so parquet row-group min/max on
            # OrderDateKey and CustomerKey skip files inside a partition too
            # (day-level predicates prune beyond directory pruning)
            .repartition("OrderYearMonth")
            .sortWithinPartitions("OrderDateKey", "CustomerKey")
            .write.mode("overwrite")
            .partitionBy("OrderYearMonth")
            .parquet(f"{out_dir}/fact_sales")
        )

    # the fact is the longest write: submitted first
    _concurrently(
        layers["fact"].sparkSession,
        write_fact,
        *map(write_dim, ("dim_date", "dim_shipmode", "dim_category", "dim_subcategory",
                         "dim_geography", "dim_customer", "dim_product")),
    )
