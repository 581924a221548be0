"""Query catalog: every SURVEY.md §2 operator exercised against the
driver's synthetic star (TESTDATA.md), each with a DuckDB oracle.

Parity conventions (driver hash-compares values after sorting columns by
name — see __spark_entry__ docstring):

* every output column is explicitly aliased, same name both sides;
* timestamps are cast to DATE at first touch;
* doubles are cast to DECIMAL at their source scale (no rounding), then
  all arithmetic stays in DECIMAL (exact, engine-independent);
* scale-reducing decimal casts always `round()` first: DuckDB's
  decimal→decimal cast TRUNCATES while Spark's rounds HALF_UP; `round(x, s)`
  rounds half-away-from-zero in both engines;
* ratios divide as DOUBLE in both engines (DuckDB decimal division yields
  DOUBLE anyway) and cast the result to a fixed DECIMAL;
* oracle integer functions (year(), row_number(), len()) are cast to match
  Spark's narrower types;
* window ORDER BY is always a TOTAL order — synthetic lineitem has
  duplicate (l_orderkey, l_linenumber) pairs by design, so tie-breaks
  include l_partkey, l_suppkey, l_extendedprice.

Scale notes per query are inline; dims are broadcast, fact-fact joins are
shuffle joins that AQE can re-plan.
"""

from __future__ import annotations

import contextlib
import functools
import json
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, TimestampNTZType, TimestampType

from ..functions import text as T
from ..functions import vectors as V
from ..functions.cleaning import trim_nullif, zero_pad_postal
from ..functions.dates import date_key, months_between_whole
from ..functions.hashing import geo_hash_key, md5_prefix_long, scd2_hash_diff
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators.append import idempotent_append, lateral_top1, semi_join
from ..operators.date_spine import build_date_dim
from ..operators.expectations import (
    Expectation,
    check_batch_expectations,
    check_expectations,
    enforce_expectations,
)
from ..operators.packing import pack_concat_chunk
from ..operators.quality import load_issues
from ..operators.scd2 import scd2_first_load, snapshot
from ..operators.windows import (
    dedup_keep_first,
    line_number,
    rank_top_k,
    rolling_sum_bucketed,
)
from ..sources.catalog import load_table

# ---------------------------------------------------------------- helpers

#: exact decimal money expressions shared by many queries (see module doc)
_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,4)) * "
    "(CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))"
)
_COST = "CAST(0.8 AS DECIMAL(9,4)) * CAST(l_extendedprice AS DECIMAL(18,4))"
_PROFIT = f"({_REV}) - ({_COST})"


def _rev() -> Column:
    return F.expr(_REV)


def _profit() -> Column:
    return F.expr(_PROFIT)


def _dec2(col: Column) -> Column:
    """Round-then-cast to DECIMAL(18,2) (see module doc on truncation)."""
    return F.round(col, 2).cast("decimal(18,2)")


def _sql_dec2(expr: str) -> str:
    return f"CAST(round({expr}, 2) AS DECIMAL(18,2))"


def _li(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "lineitem")


def _ord(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )


#: total order over lineitem rows (full-row distinctness verified)
_LI_TIEBREAK = [
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "l_extendedprice",
    "l_quantity",
]
_LI_TIEBREAK_SQL = ", ".join(_LI_TIEBREAK)


# ---------------------------------------------------------------- queries
# P1-P4/F1-F8: trim/nullif/upper/safe casts (staging typer shape)

def q01_typed_staging(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    return c.select(
        F.col("c_custkey").alias("cust_key"),
        trim_nullif("c_name").alias("name_clean"),
        F.upper("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("acctbal"),
        F.col("c_nationkey").alias("nation_key"),
    )


Q01_SQL = """
SELECT c_custkey AS cust_key,
       nullif(trim(c_name), '') AS name_clean,
       upper(c_mktsegment) AS segment,
       CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal,
       c_nationkey AS nation_key
FROM customer
"""


# R1/F7-F14: date spine + derived calendar columns

def q02_date_dim(spark: SparkSession, sf: str) -> DataFrame:
    lo = _ord(spark, sf).agg(F.min("o_orderdate")).first()[0]
    hi = (
        _li(spark, sf)
        .agg(F.max(F.col("l_shipdate").cast("date")))
        .first()[0]
    )
    return build_date_dim(spark, lo, hi)


Q02_SQL = """
WITH b AS (
  SELECT (SELECT min(CAST(o_orderdate AS DATE)) FROM orders) AS lo,
         (SELECT max(CAST(l_shipdate AS DATE)) FROM lineitem) AS hi
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM b
)
SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS DateKey,
       d AS Date,
       CAST(year(d) AS INT) AS Year,
       CAST(quarter(d) AS INT) AS Quarter,
       CAST(month(d) AS INT) AS Month,
       CAST(day(d) AS INT) AS Day,
       monthname(d) AS MonthName,
       'Q' || CAST(quarter(d) AS VARCHAR) AS QuarterName,
       CAST(weekofyear(d) AS INT) AS WeekOfYear,
       dayname(d) IN ('Saturday', 'Sunday') AS IsWeekend
FROM spine
"""


# W1: dedup keep-latest with deterministic total-order tie-break

def q03_dedup_latest(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).withColumn("ship_date", F.col("l_shipdate").cast("date"))
    deduped = dedup_keep_first(
        li,
        ["l_orderkey", "l_linenumber"],
        [
            F.desc("ship_date"),
            F.desc("l_partkey"),
            F.desc("l_suppkey"),
            F.desc("l_extendedprice"),
        ],
    )
    return deduped.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_partkey").alias("part_key"),
        F.col("l_suppkey").alias("supp_key"),
        F.col("ship_date"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )


Q03_SQL = """
SELECT l_orderkey AS order_key,
       l_linenumber AS line_no,
       l_partkey AS part_key,
       l_suppkey AS supp_key,
       CAST(l_shipdate AS DATE) AS ship_date,
       CAST(l_quantity AS DECIMAL(18,2)) AS qty
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY l_orderkey, l_linenumber
      ORDER BY CAST(l_shipdate AS DATE) DESC, l_partkey DESC,
               l_suppkey DESC, l_extendedprice DESC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


# W2 + J2/J3/J11: fact build — line numbering + key resolution joins

def q04_fact_build(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")

    fact = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    fact = line_number(
        fact,
        ["l_orderkey"],
        [F.asc(c) for c in ("l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")],
        out="order_line_no",
    )
    return fact.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("order_line_no"),
        date_key("o_orderdate").alias("order_date_key"),
        date_key(F.col("l_shipdate").cast("date")).alias("ship_date_key"),
        F.col("c_custkey").alias("customer_key"),
        F.col("l_partkey").alias("part_key"),
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        _dec2(_rev()).alias("revenue"),
        _dec2(_profit()).alias("profit"),
    )


Q04_SQL = f"""
SELECT l_orderkey AS order_key,
       CAST(row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS INT)
         AS order_line_no,
       CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INT) AS order_date_key,
       CAST(strftime(CAST(l_shipdate AS DATE), '%Y%m%d') AS INT) AS ship_date_key,
       c_custkey AS customer_key,
       l_partkey AS part_key,
       n_name AS nation,
       r_name AS region,
       CAST(l_quantity AS DECIMAL(18,2)) AS qty,
       {_sql_dec2(_REV)} AS revenue,
       {_sql_dec2(_PROFIT)} AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
"""


# A8: category rollup with grand total (flagship — the reference's
# PivotTable1 "By Category" reshaped onto p_brand)

def q05_sales_by_brand_rollup(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    # pre-aggregate per brand before the rollup Expand (see q34): the
    # grouping sets then run over |brand| rows, not the joined fact
    base = joined.groupBy("p_brand").agg(
        F.count("*").alias("__n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"),
        F.sum(_rev()).alias("__s"),
    )
    agg = base.rollup("p_brand").agg(
        F.sum("__n").alias("n_rows"),
        F.sum("__q").cast("decimal(18,2)").alias("sum_qty"),
        _dec2(F.sum("__s")).alias("revenue"),
    )
    return agg.select(
        F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
        "n_rows",
        "sum_qty",
        "revenue",
    )


Q05_SQL = f"""
SELECT coalesce(p_brand, 'ALL') AS brand,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_qty,
       {_sql_dec2(f"sum({_REV})")} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ROLLUP (p_brand)
"""


# A9/A10: hierarchical year→month rollup with subtotals

def q06_year_month_rollup(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    # pre-aggregate per (year, month) before the rollup Expand (see q34)
    base = (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("tp"),
        )
        .groupBy("order_year", "order_month")
        .agg(F.count("*").alias("__n"), F.sum("tp").alias("__s"))
    )
    agg = base.rollup("order_year", "order_month").agg(
        F.sum("__n").alias("n_orders"),
        F.sum("__s").cast("decimal(18,2)").alias("total_price"),
    )
    return agg.select(
        F.coalesce("order_year", F.lit(-1)).alias("order_year"),
        F.coalesce("order_month", F.lit(-1)).alias("order_month"),
        "n_orders",
        "total_price",
    )


Q06_SQL = """
SELECT CAST(coalesce(order_year, -1) AS INT) AS order_year,
       CAST(coalesce(order_month, -1) AS INT) AS order_month,
       count(*) AS n_orders,
       CAST(sum(tp) AS DECIMAL(18,2)) AS total_price
FROM (
  SELECT year(CAST(o_orderdate AS DATE)) AS order_year,
         month(CAST(o_orderdate AS DATE)) AS order_month,
         CAST(o_totalprice AS DECIMAL(18,2)) AS tp
  FROM orders
)
GROUP BY ROLLUP (order_year, order_month)
"""


# A11: slicer cross-filter → parameterized dashboard aggregate

def dashboard(
    spark: SparkSession,
    sf: str,
    regions: list[str] | None = None,
    segments: list[str] | None = None,
) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    part = load_table(spark, sf, "part")

    df = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    )
    if regions:
        df = df.filter(F.col("r_name").isin(regions))
    if segments:
        df = df.filter(F.col("c_mktsegment").isin(segments))
    return df.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)").alias("sum_qty"),
        _dec2(F.sum(_rev())).alias("revenue"),
    )


def q07_slicer_dashboard(spark: SparkSession, sf: str) -> DataFrame:
    return dashboard(
        spark, sf, regions=["ASIA", "EUROPE"], segments=["BUILDING", "AUTOMOBILE"]
    )


Q07_SQL = f"""
SELECT p_brand AS brand,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_qty,
       {_sql_dec2(f"sum({_REV})")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN part     ON l_partkey = p_partkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
GROUP BY p_brand
"""


# W3: rolling 30-row sum per region (total-order tie-break, see module doc)

def q08_rolling_30row(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")

    df = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select(
            F.col("r_name").alias("region"),
            F.col("o_orderdate").alias("order_date"),
            *[F.col(c) for c in _LI_TIEBREAK],
            _dec2(_rev()).alias("revenue"),
        )
    )
    # de-skewed frame: 5 region partitions would serialize at 100 TB, so
    # the window is re-keyed to (region, yyyyMM) with exact frame carry —
    # see windows.rolling_sum_bucketed (VERDICT r1 "What's wrong" #4)
    rolled = rolling_sum_bucketed(
        df,
        ["region"],
        ["order_date", *_LI_TIEBREAK],
        {"revenue": "rolling_rev"},
        bucket=F.year("order_date") * 100 + F.month("order_date"),
        frame_rows=30,
    )
    return rolled.select(
        "region",
        "order_date",
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_partkey").alias("part_key"),
        F.col("l_suppkey").alias("supp_key"),
        F.col("rolling_rev").cast("decimal(18,2)").alias("rolling_rev"),
    )


Q08_SQL = f"""
SELECT region,
       order_date,
       l_orderkey AS order_key,
       l_linenumber AS line_no,
       l_partkey AS part_key,
       l_suppkey AS supp_key,
       CAST(sum(revenue) OVER (
           PARTITION BY region
           ORDER BY order_date, {_LI_TIEBREAK_SQL}
           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2))
         AS rolling_rev
FROM (
  SELECT r_name AS region, CAST(o_orderdate AS DATE) AS order_date,
         {_LI_TIEBREAK_SQL},
         {_sql_dec2(_REV)} AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
)
"""


# W4/W5/O2: top-5 parts per brand by profit, with share-of-brand-total

def q09_top5_parts_per_brand(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    grouped = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_partkey")
        .agg(_dec2(F.sum(_profit())).alias("profit"))
    )
    # share is over the WHOLE brand, so compute it before the top-k filter
    total = Window.partitionBy("p_brand")
    share = (
        F.col("profit").cast("double")
        / F.nullif(F.sum(F.col("profit")).over(total).cast("double"), F.lit(0.0))
    )
    with_share = grouped.withColumn(
        "profit_share", F.round(share, 6).cast("decimal(9,6)")
    )
    ranked = rank_top_k(
        with_share, ["p_brand"], [F.desc("profit"), F.asc("p_partkey")], k=5, out="rnk"
    )
    return ranked.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("part_key"),
        "profit",
        F.col("rnk"),
        "profit_share",
    )


Q09_SQL = f"""
WITH grouped AS (
  SELECT p_brand, p_partkey,
         {_sql_dec2(f"sum({_PROFIT})")} AS profit
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
), ranked AS (
  SELECT p_brand, p_partkey, profit,
         CAST(rank() OVER (PARTITION BY p_brand
                           ORDER BY profit DESC, p_partkey) AS INT) AS rnk,
         CAST(profit AS DOUBLE) /
           nullif(CAST(sum(profit) OVER (PARTITION BY p_brand) AS DOUBLE), 0.0)
           AS share
  FROM grouped
)
SELECT p_brand AS brand, p_partkey AS part_key, profit, rnk,
       CAST(round(share, 6) AS DECIMAL(9,6)) AS profit_share
FROM ranked WHERE rnk <= 5
"""


# A5/F12: customer cohort — orders per (cohort month, months since cohort)

def q10_customer_cohort(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    first = orders.groupBy("o_custkey").agg(
        F.min(F.trunc("o_orderdate", "month")).alias("cohort_month")
    )
    enriched = orders.join(first, "o_custkey").select(
        "o_custkey",
        "cohort_month",
        months_between_whole(F.col("cohort_month"), F.col("o_orderdate")).alias(
            "months_since"
        ),
    )
    return enriched.groupBy("cohort_month", "months_since").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


Q10_SQL = """
WITH first_order AS (
  SELECT o_custkey,
         CAST(date_trunc('month', min(CAST(o_orderdate AS DATE))) AS DATE)
           AS cohort_month
  FROM orders GROUP BY o_custkey
)
SELECT cohort_month,
       CAST((year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)))
          - (year(cohort_month) * 12 + month(cohort_month)) AS INT) AS months_since,
       count(*) AS n_orders,
       count(DISTINCT orders.o_custkey) AS n_customers
FROM orders JOIN first_order ON orders.o_custkey = first_order.o_custkey
GROUP BY 1, 2
"""


# J12/P5/F18/F19: suspicious-discount filter (self-anti-join reduced to a
# filter on the unique line key — SURVEY.md §2.6 J12)

def q11_suspicious_discounts(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    rev = _rev().cast("double")
    margin = _profit().cast("double") / F.nullif(rev, F.lit(0.0))
    df = li.withColumn("margin_d", margin).filter(
        (F.col("l_discount") > 0)
        & (
            F.col("margin_d").isNull()
            | ~F.col("margin_d").between(0.05, 0.50)
        )
    )
    return df.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_partkey").alias("part_key"),
        F.col("l_suppkey").alias("supp_key"),
        F.col("l_discount").cast("decimal(9,4)").alias("discount"),
        F.col("margin_d").cast("decimal(9,6)").alias("margin"),
    )


Q11_SQL = f"""
SELECT order_key, line_no, part_key, supp_key, discount,
       CAST(margin_d AS DECIMAL(9,6)) AS margin
FROM (
  SELECT l_orderkey AS order_key, l_linenumber AS line_no,
         l_partkey AS part_key, l_suppkey AS supp_key,
         CAST(l_discount AS DECIMAL(9,4)) AS discount,
         l_discount,
         CAST({_PROFIT} AS DOUBLE) / nullif(CAST({_REV} AS DOUBLE), 0.0) AS margin_d
  FROM lineitem
)
WHERE l_discount > 0
  AND (margin_d IS NULL OR margin_d NOT BETWEEN 0.05 AND 0.50)
"""


# A3: QA load-issue counters — one conditional-aggregation pass per table

def q12_qa_load_issues(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).withColumn("ship_date", F.col("l_shipdate").cast("date"))
    orders = _ord(spark, sf)
    # HIGH_DISCOUNT is counted on BARE lineitem (matching the oracle):
    # counting it on the join would silently depend on referential
    # integrity / o_orderkey uniqueness. Only the cross-table rule uses
    # the joined frame.
    joined = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == orders["o_orderkey"],
    )
    qa_li = load_issues(li, {"HIGH_DISCOUNT": F.col("l_discount") >= 0.05})
    qa_join = load_issues(
        joined, {"SHIP_BEFORE_ORDER": F.col("ship_date") < F.col("o_orderdate")}
    )
    qa_ord = load_issues(orders, {"NULL_DATES": F.col("o_orderdate").isNull()})
    return qa_li.unionByName(qa_join).unionByName(qa_ord)


Q12_SQL = """
SELECT 'HIGH_DISCOUNT' AS IssueType, count(*) AS RowCount
FROM lineitem WHERE l_discount >= 0.05
UNION ALL
SELECT 'SHIP_BEFORE_ORDER', count(*)
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE)
UNION ALL
SELECT 'NULL_DATES', count(*) FROM orders WHERE o_orderdate IS NULL
"""


# A4/J1/F5/F15: geography dim — distinct tuples, surrogate keys, MD5 HashKey

def q13_geo_dim(spark: SparkSession, sf: str) -> DataFrame:
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    geo = (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            zero_pad_postal(F.col("n_nationkey").cast("string")).alias("postal_code"),
        )
        .distinct()
    )
    w = Window.orderBy("nation", "region")
    return geo.select(
        F.row_number().over(w).alias("geo_key"),
        "nation",
        "region",
        "postal_code",
        geo_hash_key(F.col("nation"), F.col("region"), F.col("postal_code")).alias(
            "hash_key"
        ),
    )


Q13_SQL = """
WITH geo AS (
  SELECT DISTINCT n_name AS nation, r_name AS region,
         lpad(CAST(n_nationkey AS VARCHAR), 5, '0') AS postal_code
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT CAST(row_number() OVER (ORDER BY nation, region) AS INT) AS geo_key,
       nation, region, postal_code,
       md5(concat_ws('|', upper(coalesce(nation, '')),
                          upper(coalesce(region, '')),
                          upper(coalesce(postal_code, '')))) AS hash_key
FROM geo
"""


# §2.10/A1/F15: SCD2 first load over the customer snapshot

def q14_scd2_first_load(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").withColumn(
        "c_nationkey_str", F.col("c_nationkey").cast("string")
    )
    snap = snapshot(cust, "c_custkey", ["c_name", "c_mktsegment", "c_nationkey_str"])
    dim = scd2_first_load(
        snap, "c_custkey", ["c_name", "c_mktsegment", "c_nationkey_str"], "CustomerKey"
    )
    return dim.select(
        F.col("CustomerKey"),
        F.col("c_custkey").alias("CustomerID"),
        F.col("c_name").alias("CustomerName"),
        F.col("c_mktsegment").alias("Segment"),
        F.col("c_nationkey_str").alias("NationKey"),
        "EffectiveFrom",
        "EffectiveTo",
        "IsCurrent",
        "HashDiff",
    )


Q14_SQL = """
WITH snap AS (
  SELECT c_custkey,
         max(c_name) AS c_name,
         max(c_mktsegment) AS c_mktsegment,
         max(CAST(c_nationkey AS VARCHAR)) AS nk
  FROM customer GROUP BY c_custkey
)
SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS INT) AS CustomerKey,
       c_custkey AS CustomerID,
       c_name AS CustomerName,
       c_mktsegment AS Segment,
       nk AS NationKey,
       DATE '1900-01-01' AS EffectiveFrom,
       DATE '9999-12-31' AS EffectiveTo,
       TRUE AS IsCurrent,
       sha256(concat_ws('|', upper(coalesce(c_name, '')),
                             upper(coalesce(c_mktsegment, '')),
                             upper(coalesce(nk, '')))) AS HashDiff
FROM snap
"""


# S5/J7: idempotent fact append via left-anti join

def q15_idempotent_append(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    existing = li.filter(F.col("l_orderkey") % 7 == 0)
    keys = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    fresh = idempotent_append(li, existing, keys)
    return fresh.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_partkey").alias("part_key"),
        F.col("l_suppkey").alias("supp_key"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )


Q15_SQL = """
SELECT l_orderkey AS order_key, l_linenumber AS line_no,
       l_partkey AS part_key, l_suppkey AS supp_key,
       CAST(l_quantity AS DECIMAL(18,2)) AS qty
FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem e
  WHERE e.l_orderkey % 7 = 0
    AND e.l_orderkey = l.l_orderkey AND e.l_linenumber = l.l_linenumber
    AND e.l_partkey = l.l_partkey AND e.l_suppkey = l.l_suppkey
)
"""


# J8: semi-join — customers active in 2000

def q16_semi_join_active(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    active = (
        _ord(spark, sf)
        .filter(F.year("o_orderdate") == 2000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return semi_join(cust, active, ["c_custkey"]).select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


Q16_SQL = """
SELECT c_custkey AS cust_key, c_name AS name, c_mktsegment AS segment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND year(CAST(o.o_orderdate AS DATE)) = 2000
)
"""


# J4/O1: lateral TOP(1) — latest order per customer (dedup-then-join)

def q17_latest_order_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey"), F.col("c_name")
    )
    orders = _ord(spark, sf).select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    )
    joined = lateral_top1(
        cust,
        orders,
        ["c_custkey"],
        [F.desc("o_orderdate"), F.desc("o_orderkey")],
        how="inner",
    )
    return joined.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("name"),
        F.col("o_orderkey").alias("latest_order_key"),
        F.col("o_orderdate").alias("latest_order_date"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("latest_total"),
    )


Q17_SQL = """
SELECT c_custkey AS cust_key, c_name AS name,
       o_orderkey AS latest_order_key,
       CAST(o_orderdate AS DATE) AS latest_order_date,
       CAST(o_totalprice AS DECIMAL(18,2)) AS latest_total
FROM customer
JOIN (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE) DESC,
                                     o_orderkey DESC) AS rn
  FROM orders
) o ON o.o_custkey = c_custkey AND o.rn = 1
"""


# J5/P10: left lateral lookup with null-safe compare (OUTER APPLY analog)

def q18_nullsafe_geo_lookup(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    with_nation = cust.join(
        F.broadcast(nation),
        (cust["c_nationkey"] == nation["n_nationkey"])
        & (cust["c_custkey"] % 100 != 0),
        "left",
    )
    with_region = with_nation.join(
        F.broadcast(region),
        with_nation["n_regionkey"].eqNullSafe(region["r_regionkey"]),
        "left",
    )
    return with_region.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
    )


Q18_SQL = """
SELECT c_custkey AS cust_key, n_name AS nation, r_name AS region
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey AND c_custkey % 100 <> 0
LEFT JOIN region ON n_regionkey IS NOT DISTINCT FROM r_regionkey
"""


# ---- training-data pipeline operators over documents / embeddings ------

# exact dedup by content fingerprint (md5 of normalized text)

def q19_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    fp = docs.select(
        F.col("doc_id"), T.fingerprint("text").alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


Q19_SQL = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


# exact n-gram Jaccard near-dup pairs (inverted-index self-join)

def q20_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)


Q20_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), sizes AS (
  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       sa.set_size AS size_a, sb.set_size AS size_b,
       CAST(CAST(n_common AS DOUBLE) /
            (sa.set_size + sb.set_size - n_common) AS DECIMAL(9,6)) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(CAST(n_common AS DOUBLE) /
           (sa.set_size + sb.set_size - n_common) AS DECIMAL(9,6)) >= 0.2
"""


# language-ID heuristic (stopword votes)

def q21_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        T.lang_id("text").alias("lang_pred"),
    )


def _sql_stopword_ratio(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter(t, x -> list_contains([{lst}], x))) AS DOUBLE)"
        " / greatest(len(t), 1)"
    )


Q21_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), scored AS (
  SELECT doc_id, lang,
         {_sql_stopword_ratio(T.STOPWORDS_EN)} AS en,
         {_sql_stopword_ratio(T.STOPWORDS_DE)} AS de,
         {_sql_stopword_ratio(T.STOPWORDS_FR)} AS fr
  FROM toks
)
SELECT doc_id, lang AS lang_declared,
       CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
            WHEN de >= fr AND de > 0 THEN 'de'
            WHEN fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM scored
"""


# text quality scoring

def q22_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.char_count("text").alias("n_chars"),
        T.punct_ratio("text").cast("decimal(9,6)").alias("punct_ratio"),
        T.stopword_ratio("text").cast("decimal(9,6)").alias("stopword_ratio"),
        T.quality_score("text").cast("decimal(9,6)").alias("quality"),
    )


_SQL_EN = ", ".join(f"'{w}'" for w in T.STOPWORDS_EN)
Q22_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t,
         CAST(length(text) - length(
             regexp_replace(text, '[!-/:-@\[-`{{-~]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_r
  FROM documents
), scored AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tokens,
         CAST(length(text) AS INT) AS n_chars,
         punct_r,
         CAST(len(list_filter(t, x -> list_contains([{_SQL_EN}], x))) AS DOUBLE)
           / greatest(len(t), 1) AS sw_r
  FROM base
)
SELECT doc_id, n_tokens, n_chars,
       CAST(punct_r AS DECIMAL(9,6)) AS punct_ratio,
       CAST(sw_r AS DECIMAL(9,6)) AS stopword_ratio,
       CAST(least(n_tokens / 100.0, 1.0) * 0.4
          + least(sw_r * 5.0, 1.0) * 0.4
          + greatest(1.0 - punct_r * 4.0, 0.0) * 0.2 AS DECIMAL(9,6)) AS quality
FROM scored
"""


# token statistics (whitespace + word-regex counts)

def q23_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    words = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.size(words).alias("n_words"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        T.char_count("text").alias("n_chars"),
    )


_BPE_SQL_LIT = T.BPE_ISH_PATTERN.replace("'", "''")
Q23_SQL = rf"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '')) AS INT)
         AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS INT) AS n_words,
       CAST(len(regexp_extract_all(text, '{_BPE_SQL_LIT}', 0)) AS INT)
         AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


# document fingerprinting: md5 + 60-bit integer fingerprint

def q24_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint("text").alias("fingerprint"),
        md5_prefix_long(T.normalize("text")).alias("fp_long"),
    )


Q24_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       CAST(('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                            1, 15)) AS BIGINT) AS fp_long
FROM documents
"""


# brute-force cosine top-k (exact ANN baseline)

def q25_knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return SIM.knn_bruteforce(emb, queries, k=10).drop("rnk")


Q25_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv) /
           nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv)), 0.0) AS cs
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id,
       CAST(round(cs, 6) AS DECIMAL(18,6)) AS cos_sim
FROM ranked WHERE rn <= 10
"""


# ---- event-stream table (batch equivalents of streaming/incremental) ---

# A3/A5-shape: per-type event stats + JSON props extraction

def q29_event_type_stats(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("decimal(18,2)")
        .alias("sum_value"),
        F.avg(F.get_json_object("props", "$.k").cast("int")).alias("avg_k_d"),
    ).withColumn("avg_k", F.round(F.col("avg_k_d"), 4).cast("decimal(18,4)")).drop("avg_k_d")


Q29_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS sum_value,
       CAST(round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4)
            AS DECIMAL(18,4)) AS avg_k
FROM events GROUP BY event_type
"""


# windowed QA counters, batch form (streaming/incremental.windowed_counts)

def q30_event_daily_counts(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    # ts is TIMESTAMP_NTZ (load_table contract): to_date on NTZ is pure
    # wall-clock — no session-timezone resolution — matching the DuckDB
    # oracle's cast of the naive UTC timestamp.
    event_day = F.to_date("ts")
    return (
        ev.groupBy(event_day.alias("event_day"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )


Q30_SQL = """
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS event_day,
       event_type, count(*) AS n_events
FROM events GROUP BY 1, 2
"""


# gap-based sessionization, batch form (streaming/incremental.sessionize):
# lag → new-session flag → running sum → per-session aggregate

def q31_sessionize_batch(spark: SparkSession, sf: str, gap_minutes: int = 30) -> DataFrame:
    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    with_prev = ev.withColumn("prev_ts", F.lag("ts").over(w_order))
    flagged = with_prev.withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            # timestampdiff is wall-clock on NTZ operands — the
            # session-tz-proof gap (unix_micros would cast via session tz)
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > gap_us),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(w_order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("decimal(18,2)")
        .alias("sum_value"),
    )


Q31_SQL = """
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, session_no,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS sum_value
FROM numbered GROUP BY user_id, session_no
"""


# supplier revenue: top-3 suppliers per nation (J11 + W4 over supplier)

def q32_top_suppliers_per_nation(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    agg = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "s_suppkey", "s_name")
        .agg(_dec2(F.sum(_rev())).alias("revenue"))
    )
    ranked = rank_top_k(
        agg, ["n_name"], [F.desc("revenue"), F.asc("s_suppkey")], k=3, out="rnk"
    )
    return ranked.select(
        F.col("n_name").alias("nation"),
        F.col("s_suppkey").alias("supp_key"),
        F.col("s_name").alias("supplier"),
        "revenue",
        "rnk",
    )


Q32_SQL = f"""
WITH agg AS (
  SELECT n_name, s_suppkey, s_name,
         {_sql_dec2(f"sum({_REV})")} AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, s_suppkey, s_name
)
SELECT n_name AS nation, s_suppkey AS supp_key, s_name AS supplier, revenue,
       rnk
FROM (
  SELECT *, CAST(rank() OVER (PARTITION BY n_name
                              ORDER BY revenue DESC, s_suppkey) AS INT) AS rnk
  FROM agg
) WHERE rnk <= 3
"""


# embedding-cosine near-duplicate pairs (the vector tier of dedup):
# exact all-pairs baseline — O(n²) dot products, JVM-side. The scale path
# is q28-style bucketing (sign-LSH) feeding the same verification.

def q33_embedding_neardup(spark: SparkSession, sf: str, threshold: float = 0.40) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    # over-collect slightly below threshold, then apply the DEFINING filter
    # on the 6-dp ROUNDED value — membership is then decided on the same
    # quantity both engines output, not on raw doubles that differ by an
    # ulp between BLAS and sequential summation
    pairs = SIM.all_pairs_cosine(emb, threshold - 1e-4)
    return pairs.select(
        "id_a", "id_b",
        F.round("cos_d", 6).cast("decimal(18,6)").alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


Q33_SQL = """
WITH scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(round(
           list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             nullif(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0.0),
           6) AS DECIMAL(18,6)) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.40
"""


# A8+ surface: CUBE over (region, segment) — grouping-sets support the
# reference's pivot engine implies but cannot express

def q34_cube_region_segment(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    df = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    # pre-aggregate at the base grain BEFORE the cube: Expand would
    # otherwise replicate every fact row ×4 grouping sets into the
    # shuffle; aggregating (region, segment) first cuts the expanded
    # input from |fact| to |region × segment| rows, and DECIMAL partial
    # sums / counts re-aggregate exactly (rounding stays at the output)
    base = df.groupBy("r_name", "c_mktsegment").agg(
        F.count("*").alias("__n"),
        F.sum(_rev()).alias("__s"),
    )
    agg = base.cube("r_name", "c_mktsegment").agg(
        F.sum("__n").alias("n_rows"),
        _dec2(F.sum("__s")).alias("revenue"),
    )
    return agg.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
        "n_rows",
        "revenue",
    )


Q34_SQL = f"""
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(c_mktsegment, 'ALL') AS segment,
       count(*) AS n_rows,
       {_sql_dec2(f"sum({_REV})")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name, c_mktsegment)
"""


# S1 as a catalog entry: the messy-line repair expression proven on
# synthetic corruption — wrap each document's text like the reference's
# double-encoded rows (quotes doubled, outer wrap, trailing ';'), repair,
# and emit whether recovery is byte-exact.

def q39_messy_line_repair(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.messy_csv import repair_line

    docs = load_table(spark, sf, "documents")
    quoted = F.concat(
        F.lit('"'),
        F.replace(F.col("text"), F.lit('"'), F.lit('""')),
        F.lit('";'),
    )
    messed = docs.select("doc_id", "text", quoted.alias("messy"))
    return messed.select(
        "doc_id",
        repair_line(F.col("messy")).alias("recovered"),
        (repair_line(F.col("messy")) == F.col("text")).alias("roundtrip_ok"),
    )


Q39_SQL = r"""
SELECT doc_id,
       replace(regexp_replace(regexp_replace(
           '"' || replace(text, '"', '""') || '";',
           ';$', ''), '^"(.*)"$', '\1'), '""', '"') AS recovered,
       replace(regexp_replace(regexp_replace(
           '"' || replace(text, '"', '""') || '";',
           ';$', ''), '^"(.*)"$', '\1'), '""', '"') = text AS roundtrip_ok
FROM documents
"""


# polynomial rolling hash (Rabin-Karp) document fingerprint — the
# "rolling hash" tier of fingerprinting; one higher-order aggregate pass

_RH_MOD = 2147483647  # 2^31 - 1: acc*256+255 < 2^39, ANSI-safe in BIGINT


def q40_rolling_hash(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    codes = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("bigint"))
    rh = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(256) + c) % F.lit(_RH_MOD),
    )
    return docs.select("doc_id", rh.alias("rolling_hash"))


Q40_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 256 + b) % {_RH_MOD}) AS rolling_hash
FROM documents
"""


# lag/lead surface (beyond the reference's window census): per-customer
# order cadence — days since previous order, days until next

def q36_order_cadence(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderdate").alias("order_date"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
        F.datediff(
            F.lead("o_orderdate").over(w), F.col("o_orderdate")
        ).alias("days_until_next"),
        F.ntile(4).over(w).alias("cadence_quartile"),
    )


Q36_SQL = """
SELECT o_custkey AS cust_key,
       o_orderkey AS order_key,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(date_diff('day',
            lag(CAST(o_orderdate AS DATE)) OVER w,
            CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
       CAST(date_diff('day',
            CAST(o_orderdate AS DATE),
            lead(CAST(o_orderdate AS DATE)) OVER w) AS INT) AS days_until_next,
       CAST(ntile(4) OVER w AS INT) AS cadence_quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
"""


# exact percentiles (A-family breadth): median / p90 order value per segment

def q37_order_value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    joined = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4)
        .cast("decimal(18,4)")
        .alias("median_value"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4)
        .cast("decimal(18,4)")
        .alias("p90_value"),
    )


Q37_SQL = """
SELECT c_mktsegment AS segment,
       count(*) AS n_orders,
       CAST(round(quantile_cont(o_totalprice, 0.5), 4) AS DECIMAL(18,4)) AS median_value,
       CAST(round(quantile_cont(o_totalprice, 0.9), 4) AS DECIMAL(18,4)) AS p90_value
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# market-basket: part pairs co-purchased in the same order (self-join on
# the order key, pair-grouped — the classic frequent-pair shape)

def q41_copurchase_pairs(spark: SparkSession, sf: str, min_orders: int = 2) -> DataFrame:
    li = _li(spark, sf).select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    return (
        pairs.groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )


Q41_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
"""


# month-over-month revenue change: lag over an aggregated series

def q42_revenue_mom(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    monthly = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(_dec2(F.sum(_rev())).alias("revenue"))
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    mom = (F.col("revenue").cast("double") - prev.cast("double")) / F.nullif(
        prev.cast("double"), F.lit(0.0)
    )
    return monthly.select(
        "month",
        "revenue",
        F.round(mom, 6).cast("decimal(18,6)").alias("mom_change"),
    )


Q42_SQL = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
         {_sql_dec2(f"sum({_REV})")} AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
SELECT month, revenue,
       CAST(round((CAST(revenue AS DOUBLE) - CAST(lag(revenue) OVER w AS DOUBLE))
                  / nullif(CAST(lag(revenue) OVER w AS DOUBLE), 0.0), 6)
            AS DECIMAL(18,6)) AS mom_change
FROM monthly
WINDOW w AS (ORDER BY month)
"""


# blocked fuzzy matching: near-identical part names within a (brand, size)
# block via Levenshtein — entity-resolution shape with explicit blocking
# so the quadratic edit-distance work stays inside small blocks

def q43_fuzzy_part_names(spark: SparkSession, sf: str, max_dist: int = 8) -> DataFrame:
    part = load_table(spark, sf, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a = part.alias("a")
    b = part.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return pairs.select(
        F.col("a.p_partkey").alias("part_a"),
        F.col("b.p_partkey").alias("part_b"),
        F.col("a.p_brand").alias("brand"),
        dist.alias("edit_dist"),
    ).filter(F.col("edit_dist") <= max_dist)


Q43_SQL = """
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       a.p_brand AS brand,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 8
"""


# set operations (U-family beyond the reference's UNION ALL):
# INTERSECT / EXCEPT with set semantics in both engines

def q44_set_ops_active_customers(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    y99 = orders.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    y00 = orders.filter(F.year("o_orderdate") == 2000).select("o_custkey")
    both = y99.intersect(y00).select(
        F.col("o_custkey").alias("cust_key"), F.lit("BOTH").alias("cohort")
    )
    # subtract = SQL EXCEPT (set semantics); exceptAll would leave
    # duplicates of both-year customers behind since y99 is a bag
    only99 = y99.subtract(y00).select(
        F.col("o_custkey").alias("cust_key"), F.lit("ONLY_1999").alias("cohort")
    )
    return both.unionByName(only99)


Q44_SQL = """
WITH y99 AS (SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1999),
     y00 AS (SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 2000)
SELECT o_custkey AS cust_key, 'BOTH' AS cohort FROM (SELECT * FROM y99 INTERSECT SELECT * FROM y00)
UNION ALL
SELECT o_custkey AS cust_key, 'ONLY_1999' AS cohort FROM (SELECT * FROM y99 EXCEPT SELECT * FROM y00)
"""


# explicit GROUPING SETS through the Spark SQL surface (the engine's
# second front door — temp views + spark.sql; A8-A10 generalized)

def q45_grouping_sets_sql(spark: SparkSession, sf: str) -> DataFrame:
    _li(spark, sf).createOrReplaceTempView("q45_lineitem")
    load_table(spark, sf, "part").createOrReplaceTempView("q45_part")
    # same pre-aggregate-before-Expand rewrite as q34 (see comment there):
    # the grouping sets run over |brand × returnflag| base rows, not the
    # joined fact; DECIMAL partials merge exactly, count(*) = sum of
    # per-group counts, rounding at the output only
    return spark.sql(f"""
        WITH base AS (
          SELECT p_brand, l_returnflag,
                 count(*) AS n, sum({_REV}) AS s
          FROM q45_lineitem JOIN q45_part ON l_partkey = p_partkey
          GROUP BY p_brand, l_returnflag
        )
        SELECT coalesce(p_brand, 'ALL') AS brand,
               coalesce(l_returnflag, 'ALL') AS return_flag,
               sum(n) AS n_rows,
               CAST(round(sum(s), 2) AS DECIMAL(18,2)) AS revenue
        FROM base
        GROUP BY GROUPING SETS ((p_brand), (l_returnflag), (p_brand, l_returnflag))
    """)


Q45_SQL = f"""
SELECT coalesce(p_brand, 'ALL') AS brand,
       coalesce(l_returnflag, 'ALL') AS return_flag,
       count(*) AS n_rows,
       {_sql_dec2(f"sum({_REV})")} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY GROUPING SETS ((p_brand), (l_returnflag), (p_brand, l_returnflag))
"""


# as-of join (operators.joins.asof_join): latest click at-or-before each
# purchase, per user — the union+window rewrite, one shuffle, no UDF.
# DuckDB has a native ASOF JOIN, which is the oracle.

def q46_asof_click_attribution(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.joins import asof_join

    ev = load_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    joined = asof_join(purchases, clicks, on="user_id", left_time="ts", right_time="click_ts")
    return joined.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        "click_id",
        # wall-clock gap on NTZ operands (see q31 on timestampdiff)
        F.expr("timestampdiff(MICROSECOND, click_ts, ts)").alias("gap_us"),
    )


Q46_SQL = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts, p.value AS purchase_value,
       c.click_id, epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""


# range join (operators.joins.banded_range_join): price-band interval join
# bucketized into an equi hash join — never a nested loop over fact × bands.

_PRICE_BANDS = [
    ("budget", 0.0, 25000.0),
    ("mid", 25000.0, 60000.0),
    ("premium", 60000.0, 90000.0),
    ("luxury", 90000.0, 130000.0),
]


def q47_price_band_join(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.joins import banded_range_join

    li = _li(spark, sf)
    bands = spark.createDataFrame(_PRICE_BANDS, "band STRING, lo DOUBLE, hi DOUBLE")
    joined = banded_range_join(li, bands, "l_extendedprice", bucket_width=5000.0)
    return joined.groupBy("band").agg(
        F.count("*").alias("n_rows"),
        _dec2(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))).alias("gross"),
    )


_BANDS_SQL = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)

Q47_SQL = f"""
SELECT band, count(*) AS n_rows,
       {_sql_dec2("sum(CAST(l_extendedprice AS DECIMAL(18,4)))")} AS gross
FROM lineitem
JOIN (VALUES {_BANDS_SQL}) AS bands(band, lo, hi)
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
"""


# deterministic train/val/test split (functions.sampling): md5-bucket
# assignment — reproducible across runs, cluster sizes, and engines
# (random sample() could never be oracle-checked).

def q48_deterministic_split(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import deterministic_split

    docs = load_table(spark, sf, "documents")
    labeled = docs.withColumn("split", deterministic_split("doc_id"))
    return labeled.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
    )


Q48_SQL = """
WITH labeled AS (
  SELECT lang, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
           AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs, sum(length(text)) AS sum_chars
FROM labeled
GROUP BY 1, 2
"""


# connected components over the near-dup graph (operators.graph):
# pairwise similarity → transitive dup clusters, canonical = min id.
# Spark side is iterative min-label propagation (localCheckpoint per
# round); the oracle is DuckDB's recursive CTE computing min reachable id.

def q49_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    return dedup_clusters(pairs.select("doc_a", "doc_b"))


Q49_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), sizes AS (
  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(CAST(n_common AS DOUBLE) /
             (sa.set_size + sb.set_size - n_common) AS DECIMAL(9,6)) >= 0.3
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS doc_id, min(lbl) AS component_id,
       node = min(lbl) AS is_canonical
FROM reach GROUP BY node
"""


# relational PIVOT (A8's wide form as a first-class operator): long → wide
# with an explicit value list so the output schema is static — at scale an
# implicit pivot would need a full distinct scan just to learn the columns.

def q50_pivot_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    wide = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
    )
    return wide.select(
        "brand",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


Q50_SQL = """
SELECT p_brand AS brand,
       CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END)
            AS DECIMAL(28,2)) AS qty_a,
       CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END)
            AS DECIMAL(28,2)) AS qty_n,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END)
            AS DECIMAL(28,2)) AS qty_r
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# UNPIVOT/melt (wide → long): the inverse surface, static column list again.

def q51_unpivot_measures(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    wide = li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        _dec2(F.sum(F.col("l_quantity").cast("decimal(18,4)"))).alias("total_qty"),
        _dec2(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))).alias("total_price"),
    )
    return wide.unpivot(
        ids=["return_flag"],
        values=["total_qty", "total_price"],
        variableColumnName="measure",
        valueColumnName="value",
    )


Q51_SQL = """
WITH wide AS (
  SELECT l_returnflag AS return_flag,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS total_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS total_price
  FROM lineitem GROUP BY l_returnflag
)
SELECT return_flag, 'total_qty' AS measure, total_qty AS value FROM wide
UNION ALL
SELECT return_flag, 'total_price' AS measure, total_price AS value FROM wide
"""


# RANGE window frame (value-based, vs q08's ROWS frame): rolling 7-DAY
# revenue over a daily series WITH DATE GAPS — a ROWS frame would wrongly
# span gaps. Ordering on the integer day key (days since epoch) gives
# identical RANGE semantics in Spark (`rangeBetween`) and DuckDB without
# relying on interval-frame support. One shuffle (the groupBy); the window
# re-sorts within partitions only.

def q52_rolling_range_revenue(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("order_date"),
    ).agg(
        _dec2(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).alias("day_revenue")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy(F.unix_date(F.col("order_date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "priority",
        "order_date",
        "day_revenue",
        F.sum("day_revenue").over(w).cast("decimal(28,2)").alias("rev_7day"),
    )


Q52_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         CAST(o_orderdate AS DATE) AS order_date,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS day_revenue
  FROM orders GROUP BY 1, 2
)
SELECT priority, order_date, day_revenue,
       CAST(sum(day_revenue) OVER (
            PARTITION BY priority
            ORDER BY order_date - DATE '1970-01-01'
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DECIMAL(28,2)) AS rev_7day
FROM daily
"""


# distribution windows: percent_rank / cume_dist over a TOTAL order, plus
# first/last_value with an explicit unbounded ROWS frame (default window
# frames stop at CURRENT ROW for last_value — the classic silent-wrong).

def q53_supplier_revenue_distribution(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    supp = load_table(spark, sf, "supplier")
    rev = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nation_key"),
            F.col("s_suppkey").alias("supp_key"),
        )
        .agg(_dec2(F.sum(_rev())).alias("revenue"))
    )
    w = Window.partitionBy("nation_key").orderBy("revenue", "supp_key")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return rev.select(
        "nation_key",
        "supp_key",
        "revenue",
        F.round(F.percent_rank().over(w), 6).cast("decimal(9,6)").alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).cast("decimal(9,6)").alias("cume"),
        F.first("revenue").over(full).alias("nation_min_rev"),
        F.last("revenue").over(full).alias("nation_max_rev"),
    )


Q53_SQL = f"""
WITH rev AS (
  SELECT s_nationkey AS nation_key, s_suppkey AS supp_key,
         {_sql_dec2(f"sum({_REV})")} AS revenue
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
)
SELECT nation_key, supp_key, revenue,
       CAST(round(percent_rank() OVER w, 6) AS DECIMAL(9,6)) AS pct_rank,
       CAST(round(cume_dist() OVER w, 6) AS DECIMAL(9,6)) AS cume,
       first_value(revenue) OVER wf AS nation_min_rev,
       last_value(revenue) OVER wf AS nation_max_rev
FROM rev
WINDOW w AS (PARTITION BY nation_key ORDER BY revenue, supp_key),
       wf AS (PARTITION BY nation_key ORDER BY revenue, supp_key
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# correlated scalar subquery at fact scale (J10, TPC-H Q17 shape): lines
# whose quantity is below half the per-part average. Spark expresses the
# decorrelated form directly — one per-part aggregate (single shuffle,
# map-side partials) joined back to lineitem; Catalyst would produce the
# same plan from the correlated SQL. The membership test is kept in exact
# DECIMAL arithmetic (2*qty*cnt < sum_qty ⟺ qty < 0.5*avg) so the
# boundary never depends on double summation order across engines.

def q54_small_quantity_parts(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    qty = F.col("l_quantity").cast("decimal(9,2)")
    per_part = li.groupBy("l_partkey").agg(
        F.count("*").alias("cnt"), F.sum(qty).alias("sum_qty")
    )
    small = li.join(per_part, "l_partkey").filter(
        qty * F.lit(2) * F.col("cnt").cast("decimal(18,0)") < F.col("sum_qty")
    )
    return (
        small.join(F.broadcast(part), small["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_small_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("small_revenue"),
        )
    )


Q54_SQL = """
SELECT p_brand AS brand,
       count(*) AS n_small_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
         AS small_revenue
FROM lineitem l JOIN part ON l.l_partkey = p_partkey
WHERE CAST(l.l_quantity AS DECIMAL(9,2)) * 2
        * (SELECT count(*) FROM lineitem x WHERE x.l_partkey = l.l_partkey)
      < (SELECT sum(CAST(x.l_quantity AS DECIMAL(9,2)))
         FROM lineitem x WHERE x.l_partkey = l.l_partkey)
GROUP BY p_brand
"""


# conditional aggregation share (TPC-H Q14 shape): promo revenue share per
# ship month. One pass — the CASE folds into the partial aggregate, so the
# shuffle carries two decimals per (month, mapper). The ratio divides the
# ROUNDED sums as doubles (engine-identical inputs → identical quotient).

def q55_promo_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    ship_month = (
        F.year(F.col("l_shipdate").cast("date")) * 100
        + F.month(F.col("l_shipdate").cast("date"))
    ).cast("int")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    out = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(ship_month.alias("ship_month"))
        .agg(
            _dec2(F.sum(promo)).alias("promo_revenue"),
            _dec2(F.sum(_rev())).alias("total_revenue"),
        )
    )
    share = F.col("promo_revenue").cast("double") / F.col("total_revenue").cast("double")
    return out.withColumn("promo_share", F.round(share, 6).cast("decimal(9,6)"))


Q55_SQL = f"""
WITH m AS (
  SELECT CAST(year(CAST(l_shipdate AS DATE)) * 100
              + month(CAST(l_shipdate AS DATE)) AS INT) AS ship_month,
         {_sql_dec2(f"sum(CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE CAST(0 AS DECIMAL(18,4)) END)")}
           AS promo_revenue,
         {_sql_dec2(f"sum({_REV})")} AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT ship_month, promo_revenue, total_revenue,
       CAST(round(CAST(promo_revenue AS DOUBLE) / CAST(total_revenue AS DOUBLE), 6)
            AS DECIMAL(9,6)) AS promo_share
FROM m
"""


# ntile deciles over per-customer spend. The global ntile needs a single
# ordered partition — fine for the customer-grain rollup (rows ≪ fact), and
# the right 100 TB pattern is exactly this: aggregate first, rank the small
# result. (For fact-grain deciles use percent_rank over pre-aggregated
# buckets or approx quantile boundaries instead.)

def q56_spend_deciles(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    spend = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(_dec2(F.sum(_rev())).alias("spend"))
    )
    w = Window.orderBy("spend", "cust_key")
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("spend").alias("min_spend"),
            F.max("spend").alias("max_spend"),
            F.sum("spend").cast("decimal(18,2)").alias("sum_spend"),
        )
    )


Q56_SQL = f"""
WITH spend AS (
  SELECT o_custkey AS cust_key, {_sql_dec2(f"sum({_REV})")} AS spend
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
), ranked AS (
  SELECT cust_key, spend,
         CAST(ntile(10) OVER (ORDER BY spend, cust_key) AS INT) AS decile
  FROM spend
)
SELECT decile, count(*) AS n_customers,
       min(spend) AS min_spend, max(spend) AS max_spend,
       CAST(sum(spend) AS DECIMAL(18,2)) AS sum_spend
FROM ranked GROUP BY decile
"""


# stratified deterministic sampling (sampleBy semantics, reproducible):
# per-stratum rates via the same content-hash buckets as q48 — no seed, no
# coordination, identical row set on any cluster size and in the oracle.

def q57_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import hash_bucket

    cust = load_table(spark, sf, "customer")
    bucket = hash_bucket(F.col("c_custkey"), 1000)
    thresh = (
        F.when(F.col("c_mktsegment") == "BUILDING", F.lit(500))
        .when(F.col("c_mktsegment") == "MACHINERY", F.lit(250))
        .otherwise(F.lit(100))
    )
    return (
        cust.filter(bucket < thresh)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_bal"),
        )
    )


Q57_SQL = """
WITH b AS (
  SELECT c_mktsegment, c_acctbal,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
           % 1000 AS bucket
  FROM customer
)
SELECT c_mktsegment AS segment, count(*) AS n_sampled,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_bal
FROM b
WHERE bucket < CASE c_mktsegment WHEN 'BUILDING' THEN 500
                                 WHEN 'MACHINERY' THEN 250
                                 ELSE 100 END
GROUP BY c_mktsegment
"""


# hopping (sliding) event windows — the batch twin of
# readStream.groupBy(window(ts, '1 hour', '30 minutes')). Each event lands
# in exactly slide/len = 2 windows; Spark's window() aligns starts to the
# epoch, reproduced in the oracle with pure integer epoch arithmetic (no
# timezone dependence under the UTC session).

def q58_hopping_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("decimal(18,2)")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


Q58_SQL = """
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + (CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - off) / 3600) AS BIGINT)
            * 3600 + off) * INTERVAL 1 SECOND AS win_start,
       event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1800]) AS off) offs
GROUP BY 1, 2
"""


# global top-k with a total order (O-family): TakeOrderedAndProject — each
# partition keeps its local top-k, the driver merges k·p rows; no global
# sort of the fact ever happens. The rounded revenue is the sort key in
# BOTH engines, with the full lineitem tie-break making the set unique.

def q59_global_topk(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    ranked = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        _dec2(_rev()).alias("revenue"),
        F.col("l_extendedprice").alias("__ep"),
        F.col("l_quantity").alias("__q"),
    ).orderBy(
        F.desc("revenue"),
        *[c for c in _LI_TIEBREAK if c not in ("l_extendedprice", "l_quantity")],
        F.col("__ep"),
        F.col("__q"),
    )
    return ranked.limit(100).drop("__ep", "__q")


Q59_SQL = f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       {_sql_dec2(_REV)} AS revenue
FROM lineitem
ORDER BY revenue DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey,
         l_extendedprice, l_quantity
LIMIT 100
"""


# combined EXISTS / NOT EXISTS at fact scale (J8 + J7, TPC-H Q4/Q21 shape):
# orders with a late-shipped line and no returned line. Both subqueries
# compile to one LeftSemi and one LeftAnti against the same scan — no
# materialized subquery results.

def q60_late_unreturned_orders(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    late = li.select(
        F.col("l_orderkey").alias("lk"), F.col("l_shipdate").cast("date").alias("ship_d")
    )
    returned = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("rk")
    )
    with_late = orders.join(
        late,
        (orders["o_orderkey"] == late["lk"])
        & (late["ship_d"] > F.date_add(orders["o_orderdate"], 30)),
        "left_semi",
    )
    kept = with_late.join(returned, with_late["o_orderkey"] == returned["rk"], "left_anti")
    return kept.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_orders"),
        _dec2(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).alias("sum_price"),
    )


Q60_SQL = """
SELECT o_orderpriority AS priority, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))
         AS sum_price
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 30)
  AND NOT EXISTS (SELECT 1 FROM lineitem r
                  WHERE r.l_orderkey = o.o_orderkey AND r.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# Bloom-filter semi-join reduction (operators.prefilter): the fact is
# pre-filtered by a Bloom filter of the selective dim subset's keys INSIDE
# the scan stage, before any Exchange — the explicit form of Catalyst's
# runtime bloom filter (whose size thresholds target clusters). False
# positives are removed by the exact join that follows, so the composed
# result is byte-identical to the plain join — which is exactly what the
# oracle checks.

def q61_bloom_semi_reduction(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.prefilter import bloom_prefilter

    li = _li(spark, sf)
    supp = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") >= 9000.0)
    pruned = bloom_prefilter(li, "l_suppkey", supp.select("s_suppkey"), "s_suppkey")
    return (
        pruned.join(F.broadcast(supp), pruned["l_suppkey"] == supp["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation_key"))
        .agg(
            F.count("*").alias("n_lines"),
            _dec2(F.sum(_rev())).alias("revenue"),
        )
    )


Q61_SQL = f"""
SELECT s_nationkey AS nation_key, count(*) AS n_lines,
       {_sql_dec2(f"sum({_REV})")} AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_acctbal >= 9000.0
GROUP BY s_nationkey
"""


# equi-width histogram (A-family surface): constant-divisor bucketing is
# one narrow projection + one aggregation — the scan-side shape that a
# dashboard distribution chart needs at any scale (no sort, no window).

def q62_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    bucket = F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("int")
    return (
        orders.groupBy(bucket.alias("price_bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            _dec2(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).alias("sum_price"),
        )
    )


Q62_SQL = """
SELECT CAST(floor(o_totalprice / 25000.0) AS INT) AS price_bucket,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))
         AS sum_price
FROM orders GROUP BY 1
"""


# higher-order array functions over the embedding column (F-family): the
# JVM-side lambda path (transform/aggregate/array ops) — norms and stats
# without exploding 64 rows per vector and without Python. The lambda
# accumulates in DOUBLE in declaration order in both engines, so the fold
# is bit-identical and round(6) is safely inside the error margin.

def q63_embedding_norms(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    max_abs = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("n_dims"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(max_abs, 6).alias("max_abs"),
    )


Q63_SQL = """
SELECT vec_id, label,
       CAST(len(embedding) AS INT) AS n_dims,
       round(sqrt(list_aggregate(
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum')), 6) AS l2_norm,
       round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6)
         AS max_abs
FROM embeddings
"""


# the canonical pricing summary (TPC-H Q1 shape): eight aggregates over
# one scan in one pass — partial aggregation absorbs nearly everything
# map-side (2 group keys × 8 accumulators per mapper reach the shuffle).
# Sums accumulate in exact DECIMAL; averages divide the ROUNDED sums as
# doubles so both engines compute the identical quotient.

def q64_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    charge = F.expr(
        f"({_REV}) * (CAST(1 AS DECIMAL(9,4)) + CAST(l_tax AS DECIMAL(9,4)))"
    )
    agg = (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02"))
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            _dec2(F.sum(F.col("l_quantity").cast("decimal(9,2)"))).alias("sum_qty"),
            _dec2(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))).alias("sum_base"),
            _dec2(F.sum(_rev())).alias("sum_disc"),
            _dec2(F.sum(charge)).alias("sum_charge"),
            F.count("*").alias("n_lines"),
        )
    )
    return (
        agg.withColumn(
            "avg_qty",
            F.round(F.col("sum_qty").cast("double") / F.col("n_lines"), 4).cast(
                "decimal(18,4)"
            ),
        )
        .withColumn(
            "avg_price",
            F.round(F.col("sum_base").cast("double") / F.col("n_lines"), 4).cast(
                "decimal(18,4)"
            ),
        )
    )


Q64_SQL = f"""
WITH agg AS (
  SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
         {_sql_dec2("sum(CAST(l_quantity AS DECIMAL(9,2)))")} AS sum_qty,
         {_sql_dec2("sum(CAST(l_extendedprice AS DECIMAL(18,2)))")} AS sum_base,
         {_sql_dec2(f"sum({_REV})")} AS sum_disc,
         {_sql_dec2(f"sum(({_REV}) * (CAST(1 AS DECIMAL(9,4)) + CAST(l_tax AS DECIMAL(9,4))))")}
           AS sum_charge,
         count(*) AS n_lines
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
  GROUP BY 1, 2
)
SELECT returnflag, linestatus, sum_qty, sum_base, sum_disc, sum_charge, n_lines,
       CAST(round(CAST(sum_qty AS DOUBLE) / n_lines, 4) AS DECIMAL(18,4)) AS avg_qty,
       CAST(round(CAST(sum_base AS DOUBLE) / n_lines, 4) AS DECIMAL(18,4)) AS avg_price
FROM agg
"""


# shipping-priority top-k (TPC-H Q3 shape): selective filters on both
# fact sides + dim semi-filter, aggregate revenue per order, global top
# 10 — filters push to every scan, the dim broadcasts, and the final
# top-k is TakeOrderedAndProject over the aggregated (small) result.

def q65_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1997-01-01").cast("date")
    rev = (
        li.filter(F.col("l_shipdate").cast("date") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"], "left_semi")
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(_dec2(F.sum(_rev())).alias("revenue"))
    )
    return rev.orderBy(F.desc("revenue"), "orderkey").limit(10)


Q65_SQL = f"""
SELECT l_orderkey AS orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_orderpriority AS priority,
       {_sql_dec2(f"sum({_REV})")} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) > DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY 1, 2, 3
ORDER BY revenue DESC, orderkey
LIMIT 10
"""


# skew-safe two-phase aggregation (operators.skew): events has 5 hot
# event_type keys — the exact shape where one reducer would absorb the
# whole table at scale. The salt spreads each key over 32 partial groups;
# the merge removes it, so the result is IDENTICAL to the plain groupBy
# (decimal sums are associative) — which is what the oracle checks.

def q66_salted_skew_agg(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf, "events").withColumn(
        "v", F.col("value").cast("decimal(18,4)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {"c": F.count("*"), "s": F.sum("v")},
        {"c": F.sum("c"), "s": F.sum("s")},
    )
    return out.select(
        "event_type",
        F.col("c").alias("n_events"),
        F.round(F.col("s"), 2).cast("decimal(18,2)").alias("sum_value"),
    )


Q66_SQL = """
SELECT event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DECIMAL(18,2)) AS sum_value
FROM events GROUP BY event_type
"""


# MapType surface: semi-structured props parsed into map<string,string>
# and exploded to (key, value) grain — the schema-on-read shape for event
# properties whose keys are not known at write time. from_json +
# explode stay JVM-side; at scale prefer promoting hot keys to real
# columns at ingest and keeping the map only for the long tail.

def q68_json_map_explode(spark: SparkSession, sf: str) -> DataFrame:
    # malformed-props guard must be SYMMETRIC (ADVICE r1): Spark's
    # from_json returns a NULL map for anything that isn't a JSON object
    # (silently dropped by explode), while DuckDB's json_keys RAISES on
    # invalid JSON — so both sides filter on the same validity predicate
    # before exploding (DuckDB: json_valid AND json_type = 'OBJECT').
    ev = load_table(spark, sf, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.withColumn("__m", m)
        .filter(F.col("__m").isNotNull())
        .select(F.explode("__m"))
        .groupBy(F.col("key").alias("prop_key"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.expr("try_cast(value AS INT)")).alias("sum_int_val"),
        )
    )


Q68_SQL = """
SELECT u.k AS prop_key, count(*) AS n_rows,
       CAST(sum(TRY_CAST(json_extract_string(e.props, '$.' || u.k) AS INT))
            AS BIGINT) AS sum_int_val
FROM events e, unnest(json_keys(e.props)) AS u(k)
WHERE json_valid(e.props) AND json_type(e.props::JSON) = 'OBJECT'
GROUP BY 1
"""


# ---- approximate / non-SQL-expressible operators (rows-only checks) ----


def q38_curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Full corpus-curation pipeline (plans.corpus_pipeline): quality/lang
    gates → exact dedup → MinHash near-dup removal. Near-dup stage is
    LSH-approximate → rows-only (per-stage audit counts returned)."""
    from .corpus_pipeline import curate

    docs = load_table(spark, sf, "documents")
    out = curate(
        docs, min_tokens=3, min_quality=0.0, near_dup_threshold=0.35,
        num_hashes=32, bands=8,
    )
    return out["audit"]


def q35_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL++) per brand, made oracle-able: the
    exact distinct count hash-matches DuckDB, and the HLL estimate is
    exported as an error-band BOOLEAN (|approx-exact|/exact ≤ 5% at
    rsd=0.01, i.e. a 5-sigma band — deterministic in Spark, literal TRUE
    in the oracle). r2 left this permanently ``no_oracle``; this split
    keeps the sketch in the plan while giving the driver a hashable
    verdict. The raw estimate itself stays pinned by pytest.

    The exact and approximate aggregates run as SEPARATE aggregations
    joined on brand, never one mixed agg: combining a DISTINCT aggregate
    with a high-precision HLL makes Catalyst expand every input row per
    aggregate group and drag the 16k-register sketch buffer through the
    sort-based ObjectHashAggregate fallback — measured 32 s vs 1.3 s
    decoupled at sf0.1 (each aggregate alone is hash-based and
    map-side-combined; the join is 25 brand keys)."""
    li = _li(spark, sf)
    part = load_table(spark, sf, "part")
    grouped = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).groupBy(F.col("p_brand").alias("brand"))
    approx = grouped.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders")
    )
    exact = grouped.agg(F.countDistinct("l_orderkey").alias("exact_orders"))
    return exact.join(approx, "brand").select(
        "brand",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        ).alias("hll_ok"),
    )


Q35_SQL = """
SELECT p_brand AS brand,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS hll_ok
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""

def q67_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal end-to-end (operators.multimodal): even doc_ids become
    VALID binary PPM images (header + text bytes padded to the exact
    8×4×3 raster — built JVM-side, decoded by the REAL pure-numpy PPM
    codec); odd doc_ids ride the FAKEIMG container (the documented stub
    path for compressed formats). Both flow through the same
    Arrow-batched mapInPandas featurizer — the 100 TB plan is identical
    whichever codec fires. Not SQL-expressible (byte decode) →
    rows-only check.

    Output boundary: the operator returns ``features ARRAY<DOUBLE>``;
    the external harness canonicalizes rows through pandas, which cannot
    sort/hash list-typed cells (r2 verdict: ``TypeError: unhashable
    type: 'list'``), so the catalog projects the 8 features to scalar
    ``f0..f7`` DOUBLE columns rounded to 9 dp. The array form stays the
    operator API and is pinned by tests."""
    from ..operators.multimodal import extract_image_features

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 500)
    ppm = F.concat(
        F.lit("P6\n8 4\n255\n"), F.rpad(F.substring("text", 1, 96), 96, "x")
    )
    fake = F.concat(F.lit("FAKEIMG|32|16|"), F.col("text"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, ppm).otherwise(fake)
        .cast("binary")
        .alias("content"),
    )
    feats = extract_image_features(media, n_features=8)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        *[
            F.round(F.element_at("features", i + 1), 9).alias(f"f{i}")
            for i in range(8)
        ],
    )


def q26_minhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup with a PARTIAL oracle (r13, the q136/q154
    pattern — this was rows-only since r2): the exact pair set at the
    same threshold is recomputed in-query (q20's operator, whose SQL
    twin the oracle runs) and exported row-by-row, with two guarantee
    booleans the oracle pins TRUE — every MinHash-verified pair is IN
    the exact set (the verification tier recomputes exact Jaccard, so
    a stray pair is a bug, not noise), and LSH recall over the exact
    set ≥ 0.8 (measured 0.96–1.0 across sf0.001/0.01/0.1; the 64-hash
    16-band S-curve sits at ~0.5, but the synthetic near-dup pairs are
    far above the 0.2 threshold)."""
    docs = load_table(spark, sf, "documents")
    exact = (
        DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
        .select("doc_a", "doc_b", "jaccard")
        .persist()  # feeds the output rows AND both guarantee joins
    )
    found = DD.minhash_dedup(
        docs, "doc_id", "text", n=3, threshold=0.2
    ).select("doc_a", "doc_b")
    hit = exact.join(found, ["doc_a", "doc_b"], "left_semi")
    stray = found.join(exact, ["doc_a", "doc_b"], "left_anti")
    flags = (
        exact.agg(F.count("*").alias("__ne"))
        .crossJoin(hit.agg(F.count("*").alias("__nf")))
        .crossJoin(stray.agg(F.count("*").alias("__ns")))
        .select(
            (
                F.col("__nf").cast("double")
                >= F.lit(0.8) * F.col("__ne").cast("double")
            ).alias("minhash_recall_ok"),
            (F.col("__ns") == 0).alias("verified_subset_of_exact"),
        )
    )
    return exact.crossJoin(F.broadcast(flags)).select(
        "doc_a",
        "doc_b",
        "jaccard",
        "minhash_recall_ok",
        "verified_subset_of_exact",
    )


def _q26_oracle_sql() -> str:
    """Q20's inverted-index skeleton at the same 0.2 threshold + the
    two TRUE guarantee booleans."""
    return (
        """
WITH exact AS (
"""
        + Q20_SQL.strip()
        + """
)
SELECT doc_a, doc_b, jaccard,
       TRUE AS minhash_recall_ok,
       TRUE AS verified_subset_of_exact
FROM exact
"""
    )


Q26_SQL = _q26_oracle_sql()


def q27_simhash_buckets(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    sigs = DD.simhash(docs, "doc_id", "text")
    return sigs.select("doc_id", "simhash")


def q28_knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return SIM.knn_ivf(emb, queries, k=10, n_cells=16, nprobe=4)


def q69_sign_lsh_neardup(spark: SparkSession, sf: str, threshold: float = 0.95) -> DataFrame:
    """Linear-time tier of embedding near-dup (operators.similarity.
    sign_lsh_neardup): banded random-hyperplane LSH candidates, exactly
    verified by cosine — the path past q33's blocked all-pairs grid when
    n² block pairs stop being affordable. Sign-LSH is the HIGH-similarity
    tier, and the synthetic embeddings table has no pair above cos 0.52,
    so the query plants near-dups itself: each vector is unioned with a
    deterministic JVM-side perturbation of itself — the embeddings are
    unit-normalized, so +0.01 per element lands at cos ≈ 0.997. 64
    planes in 4 bands of 16 bits keep random collisions ~n²/65536 while
    recall at cos ≈ 0.997 stays ≈ 0.99. Deterministic (seeded planes +
    expression perturbation) so the result is stable run-to-run.

    PARTIAL oracle (r13, the q136/q154 pattern — rows-only before): the
    pair list itself is recall-bound, but the planting makes three
    claims exact — the vector/planted counts (oracle recomputes from
    embeddings), ZERO non-planted pairs above the threshold (no
    original pair exceeds cos 0.52, and perturbed-vs-other cosines stay
    ≈ their source pair's), and planted-pair recall ≥ 0.95 (measured
    0.991–0.994 across sf0.001/0.01/0.1)."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()  # dimension-scale scalar: offsets the planted ids
    planted = emb.select(
        (F.col("vec_id") + F.lit(n)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    pairs = (
        SIM.sign_lsh_neardup(
            emb.unionByName(planted), threshold - 1e-4, n_planes=64, bands=4
        )
        .select(
            "id_a",
            "id_b",
            F.round("cos_d", 6).cast("double").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    is_planted = (F.col("id_b") - F.col("id_a")) == F.lit(n)
    return pairs.agg(
        F.coalesce(F.sum(is_planted.cast("long")), F.lit(0)).alias("__np"),
        F.coalesce(F.sum((~is_planted).cast("long")), F.lit(0)).alias("__nx"),
    ).select(
        F.lit(n).cast("bigint").alias("n_vectors"),
        F.lit(n).cast("bigint").alias("n_planted"),
        F.col("__nx").cast("bigint").alias("n_extra_pairs"),
        (
            F.col("__np").cast("double")
            >= F.lit(0.95) * F.lit(n).cast("double")
        ).alias("planted_recall_ok"),
    )


Q69_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_planted,
       CAST(0 AS BIGINT) AS n_extra_pairs,
       TRUE AS planted_recall_ok
FROM embeddings
"""


def q72_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators.similarity.semantic_dedup):
    IVF-cluster the embeddings, prune cosine-near-dups within each cell.
    Near-dups are planted exactly as in q69 (deterministic +0.01
    perturbation of every vector, cos ≈ 0.997) so the prune has real work;
    clustering + per-cell GEMM is not SQL-expressible. The planted copy
    (id+n) must drop with its source as near_id; with seed centroids the
    assignment is deterministic, so the result is stable.

    PARTIAL oracle (r13, the q136/q154 pattern — rows-only before):
    only planted pairs sit above the 0.99 threshold and the keep rule
    is min-id, so every drop must be a planted COPY naming its source
    as near_id (pinned TRUE — a violation is a hash mismatch), the
    vector/planted counts are exact, and the drop fraction ≥ 0.85
    (recall loss is confined to planted pairs straddling a cell
    boundary; measured 0.898–0.942 across sf0.001/0.01/0.1)."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()  # dimension-scale scalar: offsets the planted ids
    planted = emb.select(
        (F.col("vec_id") + F.lit(n)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    out = SIM.semantic_dedup(
        emb.unionByName(planted), threshold=0.99, n_cells=8, centroids="seed"
    )
    dropped = F.col("keep") == F.lit(False)
    bad_drop = dropped & ~(
        (F.col("vec_id") >= F.lit(n))
        & (F.col("near_id") == F.col("vec_id") - F.lit(n))
    )
    return out.agg(
        F.coalesce(F.sum(dropped.cast("long")), F.lit(0)).alias("__nd"),
        F.coalesce(F.sum(bad_drop.cast("long")), F.lit(0)).alias("__nb"),
    ).select(
        F.lit(n).cast("bigint").alias("n_vectors"),
        F.lit(n).cast("bigint").alias("n_planted"),
        (F.col("__nb") == 0).alias("drops_are_planted_copies"),
        (
            F.col("__nd").cast("double")
            >= F.lit(0.85) * F.lit(n).cast("double")
        ).alias("drop_recall_ok"),
    )


Q72_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_planted,
       TRUE AS drops_are_planted_copies,
       TRUE AS drop_recall_ok
FROM embeddings
"""


# LLM-pipeline: benchmark contamination + within-doc repetition (Gopher-style)

def q70_contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """Train-test decontamination: fraction of each corpus document's
    distinct 3-gram shingles that occur anywhere in the benchmark slice
    (source = 'src0' stands in for the eval suite). Both sides shuffle
    8-byte shingle hashes only (operators.dedup.benchmark_overlap)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return DD.benchmark_overlap(corpus, bench, "doc_id", "text", n=3)


#: shared oracle CTE — corpus/benchmark 3-gram shingles (q70, q172)
_CONTAM_CTE = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE source = 'src0'
)"""

Q70_SQL = f"""{_CONTAM_CTE}
SELECT c.doc_id,
       count(*) AS n_grams,
       count(b.shingle) AS n_contaminated,
       CAST(CAST(count(b.shingle) AS DOUBLE) / count(*) AS DECIMAL(9,6))
         AS contamination
FROM sh c LEFT JOIN bench b ON c.shingle = b.shingle
WHERE c.source <> 'src0'
GROUP BY 1
"""


def q71_doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition stats (MassiveText/Gopher repetition
    filters): duplicate-trigram fraction and top-bigram fraction, computed
    entirely with higher-order array functions — a narrow projection with
    ZERO shuffle (functions.text.dup_ngram_frac / top_ngram_count), so the
    filter costs exactly one scan at any corpus size."""
    docs = load_table(spark, sf, "documents")
    toked = docs.select("doc_id", T.tokens("text").alias("__toks"))
    g = toked.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        T.shingles_from_tokens(F.col("__toks"), 2).alias("__g2"),
        T.shingles_from_tokens(F.col("__toks"), 3).alias("__g3"),
    )
    return g.select(
        "doc_id",
        "n_tokens",
        T.dup_ngram_frac(F.col("__g3")).cast("decimal(9,6)").alias("dup_tri_frac"),
        (
            T.top_ngram_count(F.col("__g2")).cast("double")
            / F.greatest(F.size("__g2"), F.lit(1))
        )
        .cast("decimal(9,6)")
        .alias("top_bi_frac"),
    )


Q71_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tokens,
         list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                        i -> array_to_string(t[i:i+1], ' ')) AS g2,
         list_transform(generate_series(1, greatest(len(t) - 2, 1)),
                        i -> array_to_string(t[i:i+2], ' ')) AS g3
  FROM toks
), bi AS (
  SELECT doc_id, b, count(*) AS c
  FROM grams, LATERAL (SELECT unnest(g2) AS b)
  GROUP BY 1, 2
), top_bi AS (
  SELECT doc_id, max(c) AS top_c FROM bi GROUP BY 1
)
SELECT g.doc_id,
       g.n_tokens,
       CAST(CAST(len(g.g3) - len(list_distinct(g.g3)) AS DOUBLE)
            / greatest(len(g.g3), 1) AS DECIMAL(9,6)) AS dup_tri_frac,
       CAST(CAST(t.top_c AS DOUBLE)
            / greatest(len(g.g2), 1) AS DECIMAL(9,6)) AS top_bi_frac
FROM grams g JOIN top_bi t USING (doc_id)
"""


# LLM-pipeline: PII scrub + embedding quantization

#: PII patterns restricted to the Java-regex ∩ RE2 common subset
#: (character classes, \d, \b, bounded repetition — no lookaround), so
#: Spark and DuckDB compile them identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q73_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection + redaction over the corpus — count emails / phone
    numbers / IPv4 literals and replace them with typed placeholders, all
    JVM-side regexes (codegen, single scan, zero shuffle before the
    final projection). The synthetic docs carry no PII, so the query
    PLANTS it deterministically from doc_id (identically in the oracle):
    every 3rd doc gains an email, every 5th a phone, every 7th an IP.
    Redacted text leaves as md5 so the compare stays narrow."""
    docs = load_table(spark, sf, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" contact a"), F.col("doc_id"), F.lit("@mail.example.com"))
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-0142")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" from 10.0.0."), F.col("doc_id") % 256)
               ).otherwise(F.lit("")),
    )
    with_pii = docs.select("doc_id", planted.alias("__text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("__text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return with_pii.select(
        "doc_id",
        F.regexp_count("__text", F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count("__text", F.lit(_PII_IP)).alias("n_ips"),
        F.regexp_count("__text", F.lit(_PII_PHONE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


Q73_SQL = rf"""
WITH planted AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact a' || doc_id || '@mail.example.com' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' call 555-0142' ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' from 10.0.0.' || (doc_id % 256) ELSE '' END
           AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phones,
       md5(regexp_replace(
           regexp_replace(
               regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM planted
"""


def q74_embedding_quant(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (the storage /
    ANN-memory compression step of a vector pipeline): per-vector scale =
    max|x|, q_i = round(x_i·127/scale), plus the L2 reconstruction error
    — everything as higher-order array expressions (transform / zip_with /
    aggregate), one narrow scan, zero shuffle, no UDF. Elementwise double
    ops and an in-order fold are bit-identical across engines (q63
    precedent), so the error is value-checkable."""
    emb = load_table(spark, sf, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    step1 = emb.select(
        "vec_id",
        v.alias("__v"),
        F.greatest(max_abs, F.lit(1e-12)).alias("__scale"),
    )
    qvec = F.transform(
        F.col("__v"),
        lambda x: F.round(x * F.lit(127.0) / F.col("__scale")).cast("int"),
    )
    step2 = step1.withColumn("__q", qvec)
    err2 = F.aggregate(
        F.zip_with(
            F.col("__v"),
            F.col("__q"),
            lambda x, q: (
                (x - q.cast("double") * F.col("__scale") / F.lit(127.0))
                * (x - q.cast("double") * F.col("__scale") / F.lit(127.0))
            ),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    sum_q = F.aggregate(
        F.col("__q"), F.lit(0).cast("bigint"), lambda acc, q: acc + q
    )
    return step2.select(
        "vec_id",
        F.size("__q").alias("n_dims"),
        F.round("__scale", 6).alias("scale"),
        F.round(F.sqrt(err2), 6).alias("recon_err"),
        sum_q.alias("sum_q"),
        F.array_max(F.transform(F.col("__q"), F.abs)).alias("max_abs_q"),
    )


Q74_SQL = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scaled AS (
  SELECT vec_id, v,
         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS s
  FROM base
), quant AS (
  SELECT vec_id, v, s,
         list_transform(v, x -> CAST(round(x * 127.0 / s) AS INT)) AS q
  FROM scaled
)
SELECT vec_id,
       CAST(len(q) AS INT) AS n_dims,
       round(s, 6) AS scale,
       round(sqrt(list_aggregate(
           list_transform(range(1, len(v) + 1),
               i -> (v[i] - CAST(q[i] AS DOUBLE) * s / 127.0)
                    * (v[i] - CAST(q[i] AS DOUBLE) * s / 127.0)),
           'sum')), 6) AS recon_err,
       CAST(list_aggregate(q, 'sum') AS BIGINT) AS sum_q,
       CAST(list_max(list_transform(q, x -> abs(x))) AS INT) AS max_abs_q
FROM quant
"""


# sequence packing (operators/packing.py): concat-and-chunk spans at a
# 2048-token budget over 16 md5 shards. The window is a per-shard integer
# running sum (16 independent cumulative scans — no global sort at 100 TB);
# only (doc_id, n_tokens, shard) flows through the shuffle.

def q75_sequence_pack(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    staged = docs.select("doc_id", T.token_count("text").alias("n_tok"))
    return pack_concat_chunk(staged, "n_tok", budget=2048, n_shards=16)


Q75_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 16 AS INT) AS shard
  FROM documents
), spanned AS (
  SELECT doc_id, n_tokens, shard,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS stream_begin
  FROM toks
)
SELECT doc_id, n_tokens, shard, stream_begin,
       CAST(stream_begin // 2048 AS BIGINT) AS first_seq,
       CAST(CASE WHEN n_tokens > 0 THEN (stream_begin + n_tokens - 1) // 2048
                 ELSE stream_begin // 2048 END AS BIGINT) AS last_seq,
       CAST(CASE WHEN n_tokens > 0
                 THEN (stream_begin + n_tokens - 1) // 2048
                      - stream_begin // 2048 + 1
                 ELSE 0 END AS BIGINT) AS n_seqs
FROM spanned
"""


# TF-IDF top terms per document: explode → per-doc term counts → document
# frequency → score. The df table is vocab-sized (shuffle join on term,
# never broadcast at 100 TB); the per-doc rank window partitions on
# doc_id — maximal parallelism. The idf is kept RATIONAL (tf·N/df as one
# double expression, identical op order both engines) instead of a log:
# ln() last-bit behavior is libm-specific and would break bit-identical
# float parity.

def q76_tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


Q76_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), total AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
           / CAST(d.df AS DOUBLE) AS score
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN total n
), ranked AS (
  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS INT) AS rnk
  FROM scored
)
SELECT * FROM ranked WHERE rnk <= 3
"""


# source-mix rebalancing: per-source token share and the deterministic
# downsample rate that flattens the mix to uniform-by-source — the "data
# mixing" step before packing. One map-side-combined agg over the corpus,
# a 1-row broadcast of the totals; rates feed functions.sampling
# .deterministic_sample so the selected subset is reproducible.

def q77_source_mix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count("text").cast("bigint")).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count("*").alias("n_sources"),
    )
    target = F.col("tot_tokens").cast("double") / F.col("n_sources").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double"))
        .alias("token_share"),
        F.least(F.lit(1.0), target / F.col("n_tokens").cast("double"))
        .alias("sample_rate"),
    )


Q77_SQL = r"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         count(*) AS n_sources
  FROM per
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS token_share,
       least(1.0, CAST(tot_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
                    / CAST(n_tokens AS DOUBLE)) AS sample_rate
FROM per CROSS JOIN tot
"""


# ordered-step funnel (operators/funnel.py): view → click → purchase per
# user, earliest-completion semantics. One Exchange on user_id for the
# whole funnel (window chain + agg reuse the partitioning). The oracle
# states the same semantics as a join chain of conditional MINs.

def q78_event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.funnel import funnel_stages

    ev = load_table(spark, sf, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


Q78_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= v.view_ts GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts GROUP BY 1
)
SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
       CAST(CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                 WHEN c.click_ts IS NOT NULL THEN 2
                 ELSE 1 END AS INT) AS stage
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


# join-key skew diagnostic: the top-20 heaviest keys of a prospective
# join column with their row share — what you run BEFORE deciding between
# plain shuffle, AQE skew split, and salting (operators/skew.py). A
# map-side-combined count per key, then TakeOrderedAndProject of 20 rows;
# the grand total rides along as a 1-row broadcast.

def q79_heavy_join_keys(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    per_key = li.groupBy("l_partkey").agg(F.count("*").alias("n_rows"))
    total = li.agg(F.count("*").alias("n_total"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("n_total").cast("double"))
            .alias("row_share"),
        )
        .orderBy(F.desc("n_rows"), F.asc("l_partkey"))
        .limit(20)
    )


Q79_SQL = """
WITH per_key AS (
  SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY 1
), total AS (
  SELECT count(*) AS n_total FROM lineitem
)
SELECT l_partkey, n_rows,
       CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS row_share
FROM per_key CROSS JOIN total
ORDER BY n_rows DESC, l_partkey ASC
LIMIT 20
"""


# count-min sketch (operators/sketches.py): heavy-hitter estimates as a
# depth×width counting aggregation over engine-portable md5 hashes —
# bounded mergeable state (≤ depth·width rows), probe = min over depth
# counters, broadcast-joined. DETERMINISTIC in both engines, so unlike
# KLL/theta this sketch is value-checked against the oracle.

def q80_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sketches import cms_probe, cms_table

    li = _li(spark, sf)
    sketch = cms_table(li, "l_partkey", width=1024, depth=4)
    probes = (
        load_table(spark, sf, "part")
        .filter(F.col("p_partkey") < 20)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    return cms_probe(sketch, probes, "l_partkey", width=1024, depth=4)


Q80_SQL = """
WITH hrows AS (SELECT unnest([0, 1, 2, 3]) AS row),
stacked AS (
  SELECT r.row,
         CAST(CAST(('0x' || substr(md5('cms' || r.row || ':'
                    || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1024 AS INT) AS bucket
  FROM lineitem CROSS JOIN hrows r
), sk AS (
  SELECT row, bucket, count(*) AS cnt FROM stacked GROUP BY 1, 2
), probes AS (
  SELECT p_partkey AS probe_key FROM part WHERE p_partkey < 20
), pr AS (
  SELECT probe_key, r.row,
         CAST(CAST(('0x' || substr(md5('cms' || r.row || ':'
                    || CAST(probe_key AS VARCHAR)), 1, 15)) AS BIGINT)
              % 1024 AS INT) AS bucket
  FROM probes CROSS JOIN hrows r
)
SELECT probe_key, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_count
FROM pr LEFT JOIN sk USING (row, bucket)
GROUP BY probe_key
"""


# KLL quantile sketch / theta distinct sketch: mergeable sublinear state
# (the 100 TB path past exact percentiles and countDistinct). The sketch
# VALUES are engine-internal, so each query carries a PARTIAL oracle
# (r13, the q136/q138 pattern — rows-only before): the exact answer is
# recomputed in-query and exported (the oracle recomputes it in SQL),
# with the |estimate − exact| ≤ band check folded in-query as a boolean
# the oracle pins TRUE. The bands are the test-proven tolerance
# contracts from tests/test_sketches.py, re-measured across
# sf0.001/0.01/0.1 before conversion. The exact tier in these queries
# exists FOR verification — at 100 TB production serves the sketch
# alone; the band proof runs on samples/CI scales.

def q81_kll_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """KLL(200) quantiles of o_totalprice, each pinned inside the exact
    value bracket at rank q ± 2% (k=200 ⇒ ~1.3% normalized rank
    error). Exact n is oracle-recomputed; exact percentile VALUES never
    cross the boundary (interpolation arithmetic is not cross-engine
    bit-stable) — only the bracket booleans do."""
    from ..operators.sketches import kll_quantiles

    o = _ord(spark, sf)
    kll = kll_quantiles(o, "o_totalprice", quantiles=(0.25, 0.5, 0.9))
    br = o.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q})").alias(a)
            for q, a in [
                (0.23, "lo25"),
                (0.27, "hi25"),
                (0.48, "lo50"),
                (0.52, "hi50"),
                (0.88, "lo90"),
                (0.92, "hi90"),
            ]
        ]
    )
    return kll.crossJoin(F.broadcast(br)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        ((F.col("q25") >= F.col("lo25")) & (F.col("q25") <= F.col("hi25"))).alias(
            "q25_in_band"
        ),
        ((F.col("q50") >= F.col("lo50")) & (F.col("q50") <= F.col("hi50"))).alias(
            "q50_in_band"
        ),
        ((F.col("q90") >= F.col("lo90")) & (F.col("q90") <= F.col("hi90"))).alias(
            "q90_in_band"
        ),
    )


Q81_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS q25_in_band,
       TRUE AS q50_in_band,
       TRUE AS q90_in_band
FROM orders
"""


def q82_theta_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group theta-sketch distinct estimate, pinned within
    max(2, 5%) of the exact countDistinct (below the sketch's nominal
    4096 entries theta is exact-mode, so the band is slack until
    per-group cardinality passes ~4k)."""
    from ..operators.sketches import theta_distinct_per_group

    ev = load_table(spark, sf, "events")
    est = theta_distinct_per_group(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (
            F.abs(
                F.col("est_distinct") - F.col("exact_distinct").cast("double")
            )
            <= F.greatest(
                F.lit(2.0), F.lit(0.05) * F.col("exact_distinct").cast("double")
            )
        ).alias("est_in_band"),
    )


Q82_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS est_in_band
FROM events
GROUP BY event_type
"""


def q87_join_overlap_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Join-size planning from KB of sketch: HLL(lgk=14) inclusion-
    exclusion estimate of the lineitem⋈orders key overlap, each
    estimate pinned within max(5, 5%) of its exact count (lgk=14 ⇒
    ~0.8% standard error; measured ≤ 0.7% across sf0.001/0.01/0.1)."""
    from ..operators.sketches import hll_join_overlap

    li = _li(spark, sf).select(F.col("l_orderkey").alias("k"))
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    est = hll_join_overlap(li, orders, "k")
    ld = li.distinct().persist()  # feeds the left count AND the overlap
    exact = (
        ld.agg(F.count("*").alias("exact_left"))
        .crossJoin(
            orders.agg(F.countDistinct("k").alias("exact_right"))
        )
        .crossJoin(
            ld.join(orders.distinct(), "k", "left_semi").agg(
                F.count("*").alias("exact_overlap")
            )
        )
    )

    def band(est_col: str, exact_col: str) -> Column:
        return F.abs(
            F.col(est_col) - F.col(exact_col).cast("double")
        ) <= F.greatest(
            F.lit(5.0), F.lit(0.05) * F.col(exact_col).cast("double")
        )

    return est.crossJoin(F.broadcast(exact)).select(
        F.col("exact_left").cast("bigint").alias("exact_left"),
        F.col("exact_right").cast("bigint").alias("exact_right"),
        F.col("exact_overlap").cast("bigint").alias("exact_overlap"),
        band("est_left", "exact_left").alias("left_in_band"),
        band("est_right", "exact_right").alias("right_in_band"),
        band("est_overlap", "exact_overlap").alias("overlap_in_band"),
    )


Q87_SQL = """
WITH l AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
     r AS (SELECT DISTINCT o_orderkey AS k FROM orders)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM l) AS exact_left,
       (SELECT CAST(count(*) AS BIGINT) FROM r) AS exact_right,
       (SELECT CAST(count(*) AS BIGINT) FROM l JOIN r USING (k))
         AS exact_overlap,
       TRUE AS left_in_band,
       TRUE AS right_in_band,
       TRUE AS overlap_in_band
"""


# CDC changelog apply (operators/cdc.py): Debezium/Delta-CDF "apply
# changes" semantics — latest change per key wins (window), then ONE
# full-outer join against the snapshot. The changelog here is synthesized
# deterministically from customer (updates %7, deletes %11 — overriding
# any earlier change, inserts %13 under new keys) so both engines fold
# the identical stream.

def q83_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.cdc import apply_changelog

    c = load_table(spark, sf, "customer")
    snap = c.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    upd = (
        snap.filter(F.col("cust_key") % 7 == 0)
        .withColumn("acctbal", F.col("acctbal") + F.lit(100.0))
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(2))
    )
    dele = (
        snap.filter(F.col("cust_key") % 11 == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("seq", F.lit(3))
    )
    ins = (
        snap.filter(F.col("cust_key") % 13 == 0)
        .select(
            (F.col("cust_key") + 1_000_000).alias("cust_key"),
            F.concat(F.lit("new "), F.col("name")).alias("name"),
            "segment",
            F.lit(0.0).alias("acctbal"),
        )
        .withColumn("op", F.lit("I"))
        .withColumn("seq", F.lit(1))
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return apply_changelog(snap, changes, "cust_key", ["seq"])


Q83_SQL = """
WITH snap AS (
  SELECT c_custkey AS cust_key, c_name AS name, c_mktsegment AS segment,
         CAST(c_acctbal AS DOUBLE) AS acctbal
  FROM customer
), changes AS (
  SELECT cust_key, name, segment, acctbal + 100.0 AS acctbal,
         'U' AS op, 2 AS seq
  FROM snap WHERE cust_key % 7 = 0
  UNION ALL
  SELECT cust_key, name, segment, acctbal, 'D', 3
  FROM snap WHERE cust_key % 11 = 0
  UNION ALL
  SELECT cust_key + 1000000, 'new ' || name, segment, 0.0, 'I', 1
  FROM snap WHERE cust_key % 13 = 0
), latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY cust_key
                                 ORDER BY seq DESC) AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT coalesce(s.cust_key, l.cust_key) AS cust_key,
       CASE WHEN l.cust_key IS NOT NULL THEN l.name ELSE s.name END AS name,
       CASE WHEN l.cust_key IS NOT NULL THEN l.segment
            ELSE s.segment END AS segment,
       CASE WHEN l.cust_key IS NOT NULL THEN l.acctbal
            ELSE s.acctbal END AS acctbal
FROM snap s FULL OUTER JOIN latest l ON s.cust_key = l.cust_key
WHERE l.op IS NULL OR l.op <> 'D'
"""


# per-group z-score outliers (length-anomaly gate of a curation
# pipeline): mean/std per source derived from EXACT integer sums (n, Σx,
# Σx²) — never stddev_samp, whose partition-order-dependent double
# accumulation differs run-to-run and engine-to-engine — then one
# identical double expression on both sides (sqrt is IEEE
# correctly-rounded, so equal inputs give bit-equal outputs). Broadcast
# of the tiny per-source stats table; outliers = |z| > 2.

def q84_length_outliers(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    lens = docs.select("doc_id", "source", F.col("n_chars").cast("bigint").alias("x"))
    stats = lens.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("sx").cast("double") / n_d
    var = F.col("sxx").cast("double") / n_d - mean * mean
    enriched = stats.select(
        "source", mean.alias("mu"), F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma")
    )
    z = (F.col("x").cast("double") - F.col("mu")) / F.col("sigma")
    return (
        lens.join(F.broadcast(enriched), "source")
        .select("doc_id", "source", F.col("x").alias("n_chars"), z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.0)
    )


Q84_SQL = """
WITH lens AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents
), stats AS (
  SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM lens GROUP BY source
), enriched AS (
  SELECT source,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         sqrt(greatest(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)),
                       0.0)) AS sigma
  FROM stats
)
SELECT l.doc_id, l.source, l.x AS n_chars,
       (CAST(l.x AS DOUBLE) - e.mu) / e.sigma AS z
FROM lens l JOIN enriched e USING (source)
WHERE abs((CAST(l.x AS DOUBLE) - e.mu) / e.sigma) > 2.0
"""


# z-order clustering key (functions/zorder.py): the Morton key that
# drives multi-column min-max skipping (OPTIMIZE ZORDER BY re-expressed
# as expression + range-partitioned sorted write). Pure bit arithmetic →
# value-checked against DuckDB's bit operators; the top-30 is
# TakeOrderedAndProject, never a full sort.

def _z2_sql(a: str, b: str, bits: int = 16) -> str:
    m = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((({a} & {m}) >> {i} & 1) << {2 * i + 1})")
        terms.append(f"((({b} & {m}) >> {i} & 1) << {2 * i})")
    return " | ".join(terms)


def q85_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.zorder import z2

    li = _li(spark, sf).filter(F.col("l_partkey") < 500)
    return (
        li.select(
            *_LI_TIEBREAK,
            z2("l_partkey", "l_suppkey").alias("z"),
        )
        .orderBy("z", *_LI_TIEBREAK)
        .limit(30)
    )


Q85_SQL = f"""
SELECT {_LI_TIEBREAK_SQL},
       CAST({_z2_sql("l_partkey", "l_suppkey")} AS BIGINT) AS z
FROM lineitem
WHERE l_partkey < 500
ORDER BY z, {_LI_TIEBREAK_SQL}
LIMIT 30
"""


# RAG-style overlapping chunker: window/stride spans over the token
# array — sequence() of starts, posexplode, slice per start. All array
# ops JVM-side (no UDF); one narrow explode whose fan-out is
# ceil(n_tokens/stride) per doc — linear, shuffle-free until a consumer
# aggregates. Chunk text re-joined so an embedding stage can consume
# rows directly.

def q86_token_chunks(spark: SparkSession, sf: str, window: int = 16, stride: int = 12) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", T.tokens("text").alias("t")).filter(F.size("t") > 0)
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
    spans = toks.select(
        "doc_id",
        "t",
        F.posexplode(starts).alias("chunk_id", "begin_tok"),
    )
    piece = F.slice("t", F.col("begin_tok") + 1, window)
    return spans.select(
        "doc_id",
        "chunk_id",
        "begin_tok",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


Q86_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), spans AS (
  SELECT doc_id, t,
         CAST(s.i AS INT) AS begin_tok,
         CAST(s.i // 12 AS INT) AS chunk_id
  FROM toks, LATERAL (
    SELECT unnest(generate_series(0, len(t) - 1, 12)) AS i
  ) s
  WHERE len(t) > 0
)
SELECT doc_id, chunk_id, begin_tok,
       CAST(len(t[begin_tok + 1 : begin_tok + 16]) AS INT) AS n_chunk_tokens,
       array_to_string(t[begin_tok + 1 : begin_tok + 16], ' ') AS chunk_text
FROM spans
"""


# triangle counting (operators/graph.py `triangle_count`) over the
# co-purchase graph: degree-ordered orientation bounds wedge volume at
# O(m^1.5) regardless of skew (a star hub emits zero wedges), closure by
# semi-join. Exact → fully oracle-checkable, unlike sampled counters.

def q88_copurchase_triangles(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import triangle_count

    edges = q41_copurchase_pairs(spark, sf).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    return triangle_count(edges)


Q88_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), und AS (
  SELECT pa AS u, pb AS v FROM pairs UNION SELECT pb, pa FROM pairs
), deg AS (SELECT u AS n, count(*) AS d FROM und GROUP BY 1),
oriented AS (
  SELECT e.u, e.v FROM und e
  JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
  WHERE du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
), wedges AS (
  SELECT w1.v AS a, w2.v AS b
  FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u AND w1.v < w2.v
), closing AS (
  SELECT u, v FROM oriented UNION ALL SELECT v, u FROM oriented
), tris AS (
  SELECT a, b FROM wedges w WHERE EXISTS (
    SELECT 1 FROM closing c WHERE c.u = w.a AND c.v = w.b)
)
SELECT (SELECT count(*) FROM wedges) AS n_wedges,
       (SELECT count(*) FROM tris) AS n_triangles
"""


# source-mix APPLICATION: q77's uniform-mix rates applied as a
# deterministic md5-bucket sample (functions/sampling.py), then audited
# per source. The whole rebalance is two aggs + a broadcast + a narrow
# filter — rerunnable with byte-identical output on any cluster size,
# which is what makes the sampled corpus reproducible.

def q89_apply_source_mix(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import hash_bucket

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", T.token_count("text").cast("bigint").alias("toks")
    )
    per = docs.groupBy("source").agg(
        F.sum("toks").alias("n_tokens"), F.count("*").alias("n_docs")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.count("*").alias("n_sources")
    )
    rate = F.least(
        F.lit(1.0),
        F.col("tot_tokens").cast("double")
        / F.col("n_sources").cast("double")
        / F.col("n_tokens").cast("double"),
    )
    rates = per.crossJoin(F.broadcast(tot)).select(
        "source", rate.alias("rate")
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            hash_bucket(F.col("doc_id"), 100_000)
            < F.round(F.col("rate") * 100_000).cast("int")
        )
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("kept_docs"),
        F.sum("toks").alias("kept_tokens"),
    )


Q89_SQL = r"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS toks
  FROM documents
), per AS (
  SELECT source, CAST(sum(toks) AS BIGINT) AS n_tokens,
         count(*) AS n_docs
  FROM docs GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         count(*) AS n_sources
  FROM per
), rates AS (
  SELECT source,
         least(1.0, CAST(tot_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE)
                      / CAST(n_tokens AS DOUBLE)) AS rate
  FROM per CROSS JOIN tot
), kept AS (
  SELECT d.source, d.toks
  FROM docs d JOIN rates r USING (source)
  WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 100000 AS INT)
        < CAST(round(r.rate * 100000) AS INT)
)
SELECT source, count(*) AS kept_docs,
       CAST(sum(toks) AS BIGINT) AS kept_tokens
FROM kept GROUP BY source
"""


# TPC-H Q9 shape (product-type profit by nation × year): the heaviest
# analytic join in the catalog — lineitem ⋈ orders (fact-fact shuffle)
# with part/supplier/nation broadcast, profit in exact DECIMAL, grouped
# on (nation, year). The plan audit to watch: all three dims broadcast,
# the p_type filter pushed to the part scan BEFORE its broadcast, one
# shuffle for the fact join + one map-side-combined agg.

def q90_profit_by_nation_year(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    part = load_table(spark, sf, "part").filter(
        F.col("p_type").contains("DARD")  # STANDARD parts (~1/6 of the dim)
    )
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(_profit()).alias("profit_dec"),
            F.count("*").alias("n_lines"),
        )
        .select(
            "nation",
            "o_year",
            _dec2(F.col("profit_dec")).alias("sum_profit"),
            "n_lines",
        )
    )


Q90_SQL = f"""
SELECT n_name AS nation,
       CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
       {_sql_dec2(f"sum({_PROFIT})")} AS sum_profit,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type LIKE '%DARD%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


# TPC-H Q7 shape (bilateral volume): the same nation dim joins the fact
# TWICE in different roles (supplier's nation via supplier, customer's
# nation via orders→customer) — the role-played-dimension pattern. Both
# roles broadcast; the nation-pair predicate prunes after the cheap
# broadcasts; fact⋈fact (lineitem⋈orders) is the one shuffle.

def q91_bilateral_volume(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").alias("l_year"),
        )
        .agg(F.sum(_rev()).alias("rev_dec"), F.count("*").alias("n_lines"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            _dec2(F.col("rev_dec")).alias("revenue"),
            "n_lines",
        )
    )


Q91_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS l_year,
       {_sql_dec2(f"sum({_REV})")} AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


# percent-of-parent hierarchy (region → nation): revenue per nation with
# its share of the region subtotal and of the grand total — the
# dashboard "% of parent" measure as windows OVER an aggregate (the agg
# shrinks the data to |nations| rows first; the windows are free at that
# size). Shares divide exact decimal sums as doubles (identical IEEE op
# both engines).

def q92_hierarchy_shares(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    per_nation = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(_rev()).alias("rev_dec"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    # shares divide 2-dp ROUNDED sums: rounded, the scaled integer value
    # (cents) sits below 2^53, so the decimal→double cast is exact in
    # both engines — an unrounded DECIMAL(38,8) sum casts with
    # engine-specific last-ulp rounding (observed: DuckDB int128/10^8)
    nat2 = F.round(F.col("rev_dec"), 2).cast("double")
    region2 = F.round(F.sum("rev_dec").over(w_region), 2).cast("double")
    total2 = F.round(F.sum("rev_dec").over(w_all), 2).cast("double")
    return per_nation.select(
        "region",
        "nation",
        _dec2(F.col("rev_dec")).alias("revenue"),
        (nat2 / region2).alias("share_of_region"),
        (nat2 / total2).alias("share_of_total"),
    )


Q92_SQL = f"""
WITH per_nation AS (
  SELECT r_name AS region, n_name AS nation,
         sum({_REV}) AS rev_dec
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       {_sql_dec2("rev_dec")} AS revenue,
       CAST(round(rev_dec, 2) AS DOUBLE)
         / CAST(round(sum(rev_dec) OVER (PARTITION BY region), 2) AS DOUBLE)
         AS share_of_region,
       CAST(round(rev_dec, 2) AS DOUBLE)
         / CAST(round(sum(rev_dec) OVER (), 2) AS DOUBLE) AS share_of_total
FROM per_nation
"""


# incremental rollup maintenance (operators/rollup.py): Spark answers
# from TWO partial rollups merged (base = shipments before 1997, delta =
# the rest — the daily-load pattern: cost ∝ delta + |rollup|, never the
# history), the ORACLE recomputes the rollup from scratch. Exact decimal
# partials make merge order irrelevant, so the two must hash-match —
# the oracle directly certifies incremental == full.

def q93_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rollup import merge_rollups, partial_rollup

    li = _li(spark, sf).withColumn("ship_d", F.col("l_shipdate").cast("date"))
    cut = F.lit("1997-01-01").cast("date")
    keys = ["returnflag", "linestatus"]
    measures = {
        "qty_dec": F.col("l_quantity").cast("decimal(9,2)"),
        "rev_dec": _rev(),
    }

    def staged(df):
        return df.select(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            *[expr.alias(f"__m_{n}") for n, expr in measures.items()],
        )

    m = {n: F.col(f"__m_{n}") for n in measures}
    base = partial_rollup(staged(li.filter(F.col("ship_d") < cut)), keys, m)
    delta = partial_rollup(staged(li.filter(F.col("ship_d") >= cut)), keys, m)
    merged = merge_rollups([base, delta], keys)
    return merged.select(
        *keys,
        _dec2(F.col("qty_dec")).alias("sum_qty"),
        _dec2(F.col("rev_dec")).alias("revenue"),
        F.col("n_rows"),
    )


Q93_SQL = f"""
SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
       {_sql_dec2('sum(CAST(l_quantity AS DECIMAL(9,2)))')} AS sum_qty,
       {_sql_dec2(f'sum({_REV})')} AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY 1, 2
"""


# exact COUNT(DISTINCT) under ROLLUP: the expensive combination done
# declaratively — Catalyst plans Expand (one replica per grouping set)
# then a two-phase distinct aggregate; at scale the approx twin is the
# sketch family (q35/q82, mergeable across grouping sets for free).

def q94_distinct_under_rollup(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf)
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    joined = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        joined.rollup(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("nation"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("segment"), F.lit("ALL")).alias("segment"),
            "n_buyers",
            "n_orders",
        )
    )


Q94_SQL = """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(c_mktsegment, 'ALL') AS segment,
       count(DISTINCT o_custkey) AS n_buyers,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
"""


# nested complex types: per-customer order history as a SORTED
# array<struct> (the denormalized document shape a serving layer or a
# feature store materializes), plus fields computed by higher-order
# functions over the nested array. sort_array gives the deterministic
# total order that makes array<struct> hash-comparable across engines.

def q95_order_history_nested(spark: SparkSession, sf: str) -> DataFrame:
    """Nested per-customer order history (collect_list of structs, sorted)
    — the operator-level result is genuinely nested, but the external
    harness canonicalizes through pandas which cannot hash list cells
    (q67's r2 crash), so the catalog boundary serializes the sorted
    struct array to one deterministic ``d|k|st;...`` string. first/last
    and the finished count are still computed FROM the nested array, so
    the array semantics stay exercised."""
    orders = _ord(spark, sf).filter(F.col("o_custkey") < 200)
    entry = F.struct(
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
    )
    nested = orders.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.sort_array(F.collect_list(entry)).alias("hist"),
        F.count("*").alias("n_orders"),
    )
    return nested.select(
        "cust_key",
        F.array_join(
            F.transform(
                "hist",
                lambda e: F.concat_ws(
                    "|",
                    e.getField("d").cast("string"),
                    e.getField("k").cast("string"),
                    e.getField("st"),
                ),
            ),
            ";",
        ).alias("history"),
        "n_orders",
        F.element_at("hist", 1).getField("d").alias("first_date"),
        F.element_at("hist", -1).getField("d").alias("last_date"),
        F.size(F.filter("hist", lambda e: e.getField("st") == "F")).alias(
            "n_finished"
        ),
    )


Q95_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey AS k,
         o_orderstatus AS st
  FROM orders WHERE o_custkey < 200
)
SELECT o_custkey AS cust_key,
       string_agg(d || '|' || k || '|' || st, ';' ORDER BY d, k, st)
         AS history,
       count(*) AS n_orders,
       min(d) AS first_date,
       max(d) AS last_date,
       CAST(count(*) FILTER (WHERE st = 'F') AS INT) AS n_finished
FROM o
GROUP BY o_custkey
"""


# time-series gap filling: dense (region × day) spine left-joined onto
# observed daily revenue, gaps forward-filled with last-known values
# (last IGNORE NULLS over an unbounded-preceding frame). The spine is
# sequence()+explode (no recursion) crossed with the tiny region dim;
# the fill window partitions on region — R1's date-spine machinery
# composed with the W-family, the standard reporting densification.

def q96_gap_filled_daily_revenue(spark: SparkSession, sf: str) -> DataFrame:
    orders = _ord(spark, sf).filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    daily = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("o_orderdate").alias("day"))
        .agg(_dec2(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).alias("rev"))
    )
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    spine = days.crossJoin(F.broadcast(region.select(F.col("r_name").alias("region"))))
    joined = spine.join(daily, ["region", "day"], "left")
    w = (
        Window.partitionBy("region")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "region",
        "day",
        F.col("rev").isNotNull().alias("is_observed"),
        F.coalesce(
            F.last("rev", ignorenulls=True).over(w), F.lit(0).cast("decimal(18,2)")
        ).alias("revenue"),
    )


Q96_SQL = """
WITH daily AS (
  SELECT r_name AS region, CAST(o_orderdate AS DATE) AS day,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
              AS DECIMAL(18,2)) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
  GROUP BY 1, 2
), spine AS (
  SELECT r_name AS region, CAST(d.day AS DATE) AS day
  FROM region CROSS JOIN (
    SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-03-31',
                                  INTERVAL 1 DAY)) AS day
  ) d
)
SELECT s.region, s.day,
       daily.rev IS NOT NULL AS is_observed,
       coalesce(last_value(daily.rev IGNORE NULLS)
                  OVER (PARTITION BY s.region ORDER BY s.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                CAST(0 AS DECIMAL(18,2))) AS revenue
FROM spine s LEFT JOIN daily ON s.region = daily.region AND s.day = daily.day
"""


# distribution-drift check: lang × source contingency table with
# chi-square contributions — the shift detector a corpus pipeline runs
# between ingests. Expected counts and contributions are IEEE doubles
# from exact integer marginals (identical op order both engines); the
# chi2 TOTAL demonstrates deterministic double aggregation: each
# contribution is rounded to 9 dp and summed in DECIMAL (exact, any
# partition order) — a raw double SUM would be partition-order noise.

def q97_drift_chi2(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("observed"))
    rows = docs.groupBy("lang").agg(F.count("*").alias("row_tot"))
    cols = docs.groupBy("source").agg(F.count("*").alias("col_tot"))
    n = docs.agg(F.count("*").alias("n_tot"))
    joined = (
        cells.join(F.broadcast(rows), "lang")
        .join(F.broadcast(cols), "source")
        .crossJoin(F.broadcast(n))
    )
    expected = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n_tot").cast("double")
    )
    contrib = (F.col("observed").cast("double") - expected) * (
        F.col("observed").cast("double") - expected
    ) / expected
    with_c = joined.select(
        "lang",
        "source",
        "observed",
        expected.alias("expected"),
        contrib.alias("contribution"),
    )
    total = F.sum(F.round(F.col("contribution"), 9).cast("decimal(28,9)")).over(
        Window.partitionBy()
    )
    return with_c.withColumn("chi2_total", total.cast("double"))


Q97_SQL = """
WITH cells AS (
  SELECT lang, source, count(*) AS observed FROM documents GROUP BY 1, 2
), rows_t AS (
  SELECT lang, count(*) AS row_tot FROM documents GROUP BY 1
), cols_t AS (
  SELECT source, count(*) AS col_tot FROM documents GROUP BY 1
), n_t AS (
  SELECT count(*) AS n_tot FROM documents
), scored AS (
  SELECT c.lang, c.source, c.observed,
         CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
           / CAST(n_tot AS DOUBLE) AS expected,
         (CAST(c.observed AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n_tot AS DOUBLE))
         * (CAST(c.observed AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n_tot AS DOUBLE))
         / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
            / CAST(n_tot AS DOUBLE)) AS contribution
  FROM cells c JOIN rows_t USING (lang) JOIN cols_t USING (source)
  CROSS JOIN n_t
)
SELECT lang, source, observed, expected, contribution,
       CAST(sum(CAST(round(contribution, 9) AS DECIMAL(28,9))) OVER ()
            AS DOUBLE) AS chi2_total
FROM scored
"""


# customer order-count distribution (TPC-H Q13 shape): the one classic
# decision-support shape the catalog lacked — a LEFT OUTER join whose
# preserved side matters (zero-order customers must appear as c_count=0)
# feeding a second aggregation over the first's result. Scale shape: one
# shuffle on custkey for the outer-join+count (partial aggregation
# applies), then the histogram groupBy is over ≤ max-order-count keys —
# dimension-sized. No window, no sort.

def q98_order_count_histogram(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = _ord(spark, sf)
    per_cust = (
        cust.select("c_custkey")
        .join(
            orders.select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_customers"))


Q98_SQL = """
SELECT c_count, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
"""


# train/val/test split-leakage audit: the composition a pretraining
# pipeline runs before shipping splits — exact near-dup pairs
# (ngram_jaccard_pairs, the verification tier) whose endpoints land in
# DIFFERENT deterministic splits. Split labels are recomputed from the
# md5 bucket expression directly on the pair endpoints (the split is a
# pure function of doc_id), so NO join against the corpus-sized labeled
# table is needed — the only data past the pair-finding stage is the
# pair list itself. The audit is operators.dedup.split_leakage, which
# takes the pair frame as a PARAMETER: this oracle-checked query feeds
# it the exact tier; at 100 TB feed it minhash_dedup's verified pairs
# instead (same output contract — tests pin that both tiers agree on
# planted leaks).

def q99_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import deterministic_split

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return DD.split_leakage(pairs, deterministic_split)


_SPLIT_OF = """CASE
  WHEN CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15)) AS BIGINT)
         % 1000 < 900 THEN 'train'
  WHEN CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15)) AS BIGINT)
         % 1000 < 950 THEN 'val'
  ELSE 'test' END"""

Q99_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), sizes AS (
  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b,
         CAST(CAST(n_common AS DOUBLE) /
              (sa.set_size + sb.set_size - n_common) AS DECIMAL(9,6)) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(CAST(n_common AS DOUBLE) /
             (sa.set_size + sb.set_size - n_common) AS DECIMAL(9,6)) >= 0.2
), labeled AS (
  SELECT jaccard,
         {_SPLIT_OF.format(c='doc_a')} AS split_a,
         {_SPLIT_OF.format(c='doc_b')} AS split_b
  FROM pairs
)
SELECT least(split_a, split_b) AS split_lo,
       greatest(split_a, split_b) AS split_hi,
       count(*) AS n_leaky_pairs,
       max(jaccard) AS max_jaccard
FROM labeled
WHERE split_a <> split_b
GROUP BY 1, 2
"""


# event throttling / repeat collapse: at most one event per
# (user, event_type) per tumbling window — the batch twin of
# streaming.incremental.throttle_stream (watermark + window dedup; rate
# limiting and alert-storm suppression). One Exchange on the composite
# key; the first event is picked with a min-over-struct aggregate
# (partial aggregation applies — NO window-sort over the fact). The
# window boundary is pure epoch arithmetic on the NTZ wall clock, never
# a session-timezone cast.

def q100_event_throttle(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    win_us = 10 * 60 * 1_000_000
    keyed = ev.select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("us"),
        (us - (us % F.lit(win_us))).alias("window_start_us"),
    )
    first = F.min(F.struct("us", "event_id")).alias("first")
    return (
        keyed.groupBy("window_start_us", "user_id", "event_type")
        .agg(first, F.count("*").alias("n_events"))
        .select(
            "window_start_us",
            "user_id",
            "event_type",
            "n_events",
            F.col("first.event_id").alias("first_event_id"),
            F.col("first.us").alias("first_us"),
        )
    )


Q100_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
         epoch_us(ts) - (epoch_us(ts) % 600000000) AS window_start_us
  FROM events
), w AS (
  SELECT *,
         row_number() OVER (PARTITION BY window_start_us, user_id, event_type
                            ORDER BY us, event_id) AS rn,
         count(*) OVER (PARTITION BY window_start_us, user_id, event_type)
           AS n_events
  FROM e
)
SELECT window_start_us, user_id, event_type, n_events,
       event_id AS first_event_id, us AS first_us
FROM w
WHERE rn = 1
"""


# sliding-window distinct counting, exact tier: distinct users active in
# the trailing 7 days, per day. COUNT(DISTINCT) over a sliding frame has
# no direct Spark window form — the scale pattern is to EXPLODE each
# (user, active-day) pair into the ≤7 window-days it covers and reduce
# the slide to a plain tumbling groupBy + count distinct (shuffle rows =
# 7 × |distinct (user, day)|, independent of raw event volume after the
# first distinct). The sketch tier for wider windows is theta/HLL merge
# (q82/q87): union-merge per-day sketches instead of exploding. Days
# derive from the NTZ wall clock (session-independent cast).

def q101_rolling_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.windows import rolling_distinct

    ev = load_table(spark, sf, "events")
    return rolling_distinct(ev, "user_id", "ts", window_days=7, out="n_users")


Q101_SQL = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), covered AS (
  SELECT user_id, day + CAST(off AS INT) AS window_day
  FROM user_days, LATERAL (SELECT unnest(generate_series(0, 6)) AS off)
)
SELECT window_day, count(DISTINCT user_id) AS n_users
FROM covered
GROUP BY window_day
"""


# video frame sampling (operators.multimodal.sample_frames): FAKEVID
# containers built JVM-side from document text (the documented stub
# path — a real codec drops into _decode_video without touching this
# plan), frames sampled every_n inside the Arrow batch (grain change
# with NO Spark explode, partitioning preserved). Byte-level decode is
# not SQL-expressible → rows-only; the frame payload leaves as
# deterministic scalars (length + md5), never binary, per the
# scalar-only boundary contract.

def q102_video_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    fake_vid = F.concat(F.lit("FAKEVID|8|16|8|"), F.col("text"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        fake_vid.cast("binary").alias("content"),
    )
    frames = sample_frames(media, every_n=2)
    return frames.select(
        "media_id",
        "frame_no",
        "width",
        "height",
        F.length("frame").alias("n_frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


# temperature-scaled source mixing (alpha = 0.5): the multilingual /
# multi-source sampling rule p_i ∝ share_i^alpha that upweights small
# sources without letting any source dominate — the standard step
# between q77's share computation and q89's sample application. alpha
# is FIXED at 0.5 so the rescale is sqrt (IEEE correctly-rounded in
# both engines); arbitrary pow() is libm-dependent and would break
# cross-engine hashing. The normalizing sum over sources goes through
# an explicit decimal CAST (not round(double, n)) so double summation
# order cannot leak into the result: Spark's round() goes via the
# double's shortest decimal string (BigDecimal HALF_UP) while DuckDB's
# round() multiplies/rounds/divides in binary — a last-ulp divergence
# waiting on the right input. cast(double as decimal) quantizes the
# same IEEE value through each engine's decimal constructor instead,
# matching the repo's exact-decimal-boundary philosophy (ADVICE r3).

def q103_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import with_temperature_weights

    docs = load_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.sum(T.token_count("text").cast("bigint")).alias("n_tokens")
    )
    weighted = with_temperature_weights(per, "n_tokens")
    return weighted.select(
        "source",
        "n_tokens",
        "share",
        (F.col("temp_w").cast("double") / F.col("z").cast("double")).alias(
            "temp_share"
        ),
    )


Q103_SQL = r"""
WITH per AS (
  SELECT source,
         CAST(sum(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per
), shared AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS share
  FROM per CROSS JOIN tot
), weighted AS (
  SELECT source, n_tokens, share,
         CAST(sqrt(share) AS DECIMAL(18,9)) AS temp_w
  FROM shared
), norm AS (
  SELECT sum(CAST(temp_w AS DECIMAL(28,9))) AS z FROM weighted
)
SELECT source, n_tokens, share,
       CAST(temp_w AS DOUBLE) / CAST(z AS DOUBLE) AS temp_share
FROM weighted CROSS JOIN norm
"""


# vocabulary extraction + OOV rate (round 4): the tokenizer-training
# preprocessing step — build the top-K vocabulary by document frequency
# (deterministic tie-break: df DESC, term ASC), then score every
# document's out-of-vocabulary token rate against it. Scale shape: the
# vocabulary is BOUNDED (K rows) however large the corpus, so the
# top-K compiles to TakeOrderedAndProject (per-partition K, driver
# merges K·p) and the vocab side of the membership join broadcasts;
# the exploded token stream shuffles once for df (term key) and once
# for the per-doc rollup (doc_id key). OOV rate crosses the engine
# boundary as DECIMAL(9,6) like every other ratio.

def q104_vocab_oov(spark: SparkSession, sf: str) -> DataFrame:
    K = 50
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    dfreq = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    vocab = (
        dfreq.orderBy(F.col("df").desc(), "term")
        .limit(K)
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.count("*") - F.count("__in_vocab")).alias("n_oov"),
        )
    )
    rate = F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        rate.cast("decimal(9,6)").alias("oov_rate"),
    )


Q104_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS term
  FROM documents
), dfreq AS (
  SELECT term, count(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM toks)
  GROUP BY term
), vocab AS (
  SELECT term, 1 AS in_vocab
  FROM dfreq ORDER BY df DESC, term LIMIT 50
), per_doc AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         count(*) - count(v.in_vocab) AS n_oov
  FROM toks t LEFT JOIN vocab v USING (term)
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_oov AS BIGINT) AS n_oov,
       CAST(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            AS DECIMAL(9,6)) AS oov_rate
FROM per_doc
"""


# embedding label-cohesion diagnostic (round 4): per-label intra-cluster
# cosine cohesion — the sanity check a pipeline runs on an embedding
# table before trusting it for SemDeDup / stratified sampling. All
# similarity arithmetic happens over q74's int8-quantized vectors so
# every dot product and norm is an exact INTEGER sum (order-independent,
# engine-portable); only the final cosine and its per-label mean touch
# doubles, and the mean goes through the q103 decimal-cast trick so
# double summation order cannot leak into the hash. Scale shape: the
# centroid table is labels × dims rows (tiny — broadcast), members make
# ONE narrow pass with a zip_with dot product, and the rollup shuffles
# labels only.

def _quantized_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, label, q): per-vector int8-grid quantization (round to a
    127-step grid of the vector's own max-abs) — exact integers, so
    every downstream geometry is engine-portable. PERSISTED by callers
    that fan out."""
    emb = load_table(spark, sf, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    return emb.select(
        "vec_id",
        "label",
        F.transform(
            v,
            lambda x: F.round(
                x * F.lit(127.0) / F.greatest(max_abs, F.lit(1e-12))
            ).cast("long"),
        ).alias("q"),
    )


def _label_cosine_scores(spark: SparkSession, sf: str) -> DataFrame:
    """(label, vec_id, __cos): every member's quantized cosine to its own
    label centroid — the shared core of q105 (cohesion rollup) and q168
    (per-label outlier gate). Quantization makes the scores exact-integer
    rationals, so the DECIMAL(18,9) cosine is engine-portable."""
    # persisted: the quantized table feeds BOTH the centroid aggregation
    # and the member-scoring join — unpersisted, the 64-element quantize
    # transform runs twice over the scan
    quant = _quantized_embeddings(spark, sf).persist()
    # integer centroid numerators per (label, dim) — exact, mergeable.
    # The centroid's squared norm is folded ONCE PER LABEL here (10 rows)
    # instead of once per member row in the join below — the per-member
    # hot path then runs two 64-element folds (dot, own-norm), not three.
    nc_fold = F.aggregate(
        F.transform(F.col("c"), lambda b: b * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cent = (
        quant.select("label", F.posexplode("q").alias("dim", "qv"))
        .groupBy("label", "dim")
        .agg(F.sum("qv").alias("cv"))
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("__dc")
        )
        .select(
            "label",
            F.transform(F.col("__dc"), lambda s: s["cv"]).alias("c"),
        )
        .select("label", "c", nc_fold.alias("nc"))
    )
    joined = quant.join(F.broadcast(cent), "label")
    dot = F.aggregate(
        F.zip_with(F.col("q"), F.col("c"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nq = F.aggregate(
        F.transform(F.col("q"), lambda a: a * a),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot.cast("double") / F.sqrt(
        nq.cast("double") * F.col("nc").cast("double")
    )
    return joined.select(
        "label", "vec_id", cos.cast("decimal(18,9)").alias("__cos")
    )


def q105_label_cohesion(spark: SparkSession, sf: str) -> DataFrame:
    scored = _label_cosine_scores(spark, sf)
    # mean via exact decimal sum, final divide in IEEE double (q103
    # pattern) — decimal/decimal DIVISION rules differ between engines,
    # double division of identical operands does not
    return scored.groupBy("label").agg(
        F.count("*").alias("n_members"),
        (
            F.sum("__cos").cast("double") / F.count("*").cast("double")
        ).alias("cohesion"),
        F.min("__cos").alias("min_cos"),
    )


#: shared oracle CTE — quantized per-member label-centroid cosine
#: (ends with the `scored` CTE; q105 and q168 append their own SELECTs)
_COS_SCORED_CTE = """
WITH quant AS (
  SELECT vec_id, label,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                  greatest(list_max(list_transform(embedding,
                      y -> abs(CAST(y AS DOUBLE)))), 1e-12)) AS BIGINT)) AS q
  FROM embeddings
), exploded AS (
  SELECT label, d.dim, q[d.dim] AS qv
  FROM quant, LATERAL (SELECT unnest(generate_series(1, len(q))) AS dim) d
), cent AS (
  SELECT label, list(cv ORDER BY dim) AS c
  FROM (
    SELECT label, dim, sum(qv) AS cv
    FROM exploded GROUP BY label, dim
  ) GROUP BY label
), scored AS (
  SELECT q.label, q.vec_id,
         CAST(
           CAST(list_sum(list_transform(range(1, len(q.q) + 1),
                i -> q.q[i] * c.c[i])) AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(q.q, a -> a * a)) AS DOUBLE)
                  * CAST(list_sum(list_transform(c.c, b -> b * b)) AS DOUBLE))
           AS DECIMAL(18,9)) AS cos
  FROM quant q JOIN cent c USING (label)
)"""

Q105_SQL = f"""{_COS_SCORED_CTE}
SELECT label, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CAST(cos AS DECIMAL(28,9))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS cohesion,
       min(cos) AS min_cos
FROM scored
GROUP BY label
"""


# leakage-safe split assignment (round 4): the PREVENTIVE counterpart
# of the q99 audit — instead of detecting near-dups that straddle
# train/val/test, assign the split from each document's duplication-
# component ANCHOR (minimum id of its transitive near-dup cluster), so
# a cluster cannot straddle splits by construction. Composition:
# near-dup pairs (exact tier here; minhash_dedup at 100 TB) →
# connected components → anchor = coalesce(component, own id) → the
# same deterministic md5 split as q48/q99, applied to the anchor. The
# component table is sized by duplicated docs only, the left join is
# the single wide op, and split stays a pure function of the anchor.

def q106_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import deterministic_split

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    out = DD.leakage_safe_split(
        docs.select("doc_id"), pairs, deterministic_split
    )
    return out.select("doc_id", "anchor_id", "split")


Q106_SQL = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), sizes AS (
  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(CAST(n_common AS DOUBLE) /
             (sa.set_size + sb.set_size - n_common) AS DECIMAL(9,6)) >= 0.3
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
), comps AS (
  SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node
), anchored AS (
  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS anchor_id
  FROM documents d LEFT JOIN comps c USING (doc_id)
)
SELECT doc_id, anchor_id,
       {_SPLIT_OF.format(c='anchor_id')} AS split
FROM anchored
"""


# incremental dedup (round 4, operators.incremental_dedup): dedup a NEW
# batch against a persisted corpus state without rescanning the corpus —
# per-batch cost ∝ batch + candidates, state append-only. The corpus /
# batch split here is deterministic (doc_id % 5: buckets 0-2 are the
# existing corpus, 3-4 the arriving batch) so both engines see the same
# increments. q107 is the exact tier (fingerprint anti-join — fully
# SQL-expressible, hash-checked); the MinHash tier is pinned by
# test_incremental_dedup.py (online-vs-batch semantics documented in
# the module) and exposed rows-only as q108.

def q107_incremental_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import incremental_dedup as ID

    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 < 3)
    batch = docs.filter(F.col("doc_id") % 5 >= 3)
    out = ID.exact_increment(batch, ID.exact_state(corpus))
    return out["kept"].select("doc_id", "source")


Q107_SQL = r"""
WITH corpus AS (
  SELECT * FROM documents WHERE doc_id % 5 < 3
), batch AS (
  SELECT * FROM documents WHERE doc_id % 5 >= 3
), state AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM corpus
), batch_first AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS doc_id
  FROM batch GROUP BY 1
), fresh AS (
  SELECT doc_id FROM batch_first
  WHERE fp NOT IN (SELECT fp FROM state)
)
SELECT b.doc_id, b.source
FROM batch b JOIN fresh f USING (doc_id)
"""


def q108_incremental_minhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import incremental_dedup as ID

    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 < 3)
    batch = docs.filter(F.col("doc_id") % 5 >= 3)
    state = ID.minhash_state(corpus, n=3, num_hashes=32, bands=8)
    out = ID.minhash_increment(
        batch, state, n=3, num_hashes=32, bands=8, threshold=0.35
    )
    return out["kept"].select("doc_id", "source")


# corpus datacard (round 4): the per-source summary panel a data
# pipeline publishes alongside a release — volume (docs, tokens,
# chars), exact-duplication rate (fingerprint groups > 1, counted
# WITHIN source), and language mix (distinct langs + dominant lang with
# a deterministic tie-break). One pass for the token stats, one
# fingerprint aggregation, one lang aggregation — all keyed on source
# (+fingerprint/+lang), each with map-side partial aggregation; the
# final panel is sources-sized. The dominant language uses
# min(struct(-count, lang)): max count, then lexicographically smallest
# lang — the same trick both engines express exactly, so it hashes.

def q109_corpus_datacard(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "source",
        "lang",
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_toks"),
        F.length("text").cast("bigint").alias("n_chars"),
        T.fingerprint("text").alias("fp"),
    )
    vol = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    dups = (
        base.groupBy("source", "fp")
        .agg(F.count("*").alias("n_copies"))
        .groupBy("source")
        .agg(
            F.sum(F.col("n_copies") - F.lit(1)).alias("n_dup_docs"),
        )
    )
    langs = (
        base.groupBy("source", "lang")
        .agg(F.count("*").alias("n_lang"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_langs"),
            F.min(F.struct((-F.col("n_lang")).alias("neg"), "lang")).alias(
                "__top"
            ),
        )
        .select("source", "n_langs", F.col("__top.lang").alias("top_lang"))
    )
    rate = F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")
    return (
        vol.join(dups, "source")
        .join(langs, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_dup_docs",
            rate.cast("decimal(9,6)").alias("dup_rate"),
            "n_langs",
            "top_lang",
        )
    )


Q109_SQL = r"""
WITH base AS (
  SELECT source, lang, doc_id,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS n_toks,
         CAST(len(text) AS BIGINT) AS n_chars,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), vol AS (
  SELECT source, count(*) AS n_docs, sum(n_toks) AS n_tokens,
         sum(n_chars) AS n_chars
  FROM base GROUP BY source
), dups AS (
  SELECT source, sum(n_copies - 1) AS n_dup_docs
  FROM (SELECT source, fp, count(*) AS n_copies FROM base GROUP BY 1, 2)
  GROUP BY source
), per_lang AS (
  SELECT source, lang, count(*) AS n_lang FROM base GROUP BY 1, 2
), langs AS (
  SELECT source, count(*) OVER (PARTITION BY source) AS n_langs, lang AS top_lang,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_lang DESC, lang) AS rn
  FROM per_lang
)
SELECT v.source,
       CAST(v.n_docs AS BIGINT) AS n_docs,
       CAST(v.n_tokens AS BIGINT) AS n_tokens,
       CAST(v.n_chars AS BIGINT) AS n_chars,
       CAST(d.n_dup_docs AS BIGINT) AS n_dup_docs,
       CAST(CAST(d.n_dup_docs AS DOUBLE) / CAST(v.n_docs AS DOUBLE)
            AS DECIMAL(9,6)) AS dup_rate,
       CAST(l.n_langs AS BIGINT) AS n_langs,
       l.top_lang
FROM vol v
JOIN dups d USING (source)
JOIN (SELECT * FROM langs WHERE rn = 1) l ON l.source = v.source
"""


# content-defined chunking (round 4): split documents at TOKEN-HASH
# boundaries (Rabin/CDC idea at word grain — a token whose portable
# 60-bit md5 hash ≡ 0 mod 16 starts a new chunk, mean chunk ≈ 16
# tokens) instead of fixed-size windows, so an insertion near the top
# of a document shifts ONE chunk's boundary instead of re-fingerprinting
# every downstream window — the property that makes chunk-level dedup
# stable under edits. Per-chunk md5 fingerprints come out ready for the
# exact-dedup tier. Shape: one posexplode, one doc-keyed window cumsum,
# one (doc, chunk) rollup — the rollup reuses the window's hash
# partitioning on doc_id, so ONE Exchange end-to-end.

def _content_chunks(docs: DataFrame, keep_text: bool = False) -> DataFrame:
    """(doc_id, chunk_no, n_tokens, chunk_md5 [, chunk_text]) — shared by
    q110 (the chunk table), q111 (dup fraction), and q112 (dedup
    rewrite; only it pays the text-column width)."""
    from ..functions.hashing import md5_prefix_long

    toks = docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "term")
    )
    flag = (md5_prefix_long(F.col("term")) % 16 == 0).cast("int")
    w = Window.partitionBy("doc_id").orderBy("pos")
    chunked = toks.select(
        "doc_id", "pos", "term", F.sum(flag).over(w).alias("chunk_no")
    )
    chunk_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "term"))),
            lambda s: s["term"],
        ),
    )
    grouped = chunked.groupBy("doc_id", "chunk_no").agg(
        F.count("*").alias("n_tokens"),
        chunk_text.alias("__text"),
    )
    cols = ["doc_id", "chunk_no", "n_tokens", F.md5("__text").alias("chunk_md5")]
    if keep_text:
        cols.append(F.col("__text").alias("chunk_text"))
    return grouped.select(*cols)


def q110_content_chunks(spark: SparkSession, sf: str) -> DataFrame:
    return _content_chunks(load_table(spark, sf, "documents"))


Q110_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), pos_terms AS (
  SELECT doc_id, p.pos, t[p.pos] AS term
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS pos) p
), flagged AS (
  SELECT doc_id, pos, term,
         CASE WHEN CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT)
                   % 16 = 0 THEN 1 ELSE 0 END AS flag
  FROM pos_terms
), chunked AS (
  SELECT doc_id, pos, term,
         sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
  FROM flagged
)
SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
       CAST(count(*) AS BIGINT) AS n_tokens,
       md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_md5
FROM chunked
GROUP BY doc_id, chunk_no
"""


# chunk-level duplication fraction (round 4): for each document, the
# share of its chunks whose fingerprint also appears in OTHER documents
# — the boilerplate/near-dup signal line-level dedup pipelines (CCNet /
# RefinedWeb style) gate on, at CDC-chunk grain so it survives edits
# (q110's property). Distinct (fingerprint → n_docs) is corpus-bounded
# by distinct chunk content; the join back is on the 16-byte md5 key.

def q111_chunk_dup_fraction(spark: SparkSession, sf: str) -> DataFrame:
    chunks = _content_chunks(load_table(spark, sf, "documents"))
    df_per_chunk = (
        chunks.select("doc_id", "chunk_md5")
        .distinct()
        .groupBy("chunk_md5")
        .agg(F.count("*").alias("n_docs_with"))
    )
    shared = F.when(F.col("n_docs_with") > 1, 1).otherwise(0)
    per_doc = (
        chunks.join(df_per_chunk, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(shared).alias("n_shared_chunks"),
        )
    )
    frac = F.col("n_shared_chunks").cast("double") / F.col("n_chunks").cast(
        "double"
    )
    return per_doc.select(
        "doc_id",
        "n_chunks",
        F.col("n_shared_chunks").cast("bigint").alias("n_shared_chunks"),
        frac.cast("decimal(9,6)").alias("dup_chunk_frac"),
    )


Q111_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), pos_terms AS (
  SELECT doc_id, p.pos, t[p.pos] AS term
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS pos) p
), flagged AS (
  SELECT doc_id, pos, term,
         CASE WHEN CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT)
                   % 16 = 0 THEN 1 ELSE 0 END AS flag
  FROM pos_terms
), chunked AS (
  SELECT doc_id, pos, term,
         sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
  FROM flagged
), chunks AS (
  SELECT doc_id, chunk_no, count(*) AS n_tokens,
         md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_md5
  FROM chunked GROUP BY doc_id, chunk_no
), df_per_chunk AS (
  SELECT chunk_md5, count(*) AS n_docs_with
  FROM (SELECT DISTINCT doc_id, chunk_md5 FROM chunks)
  GROUP BY chunk_md5
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN d.n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       CAST(CAST(sum(CASE WHEN d.n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS DECIMAL(9,6)) AS dup_chunk_frac
FROM chunks c JOIN df_per_chunk d USING (chunk_md5)
GROUP BY c.doc_id
"""


# chunk-dedup rewrite (round 4): the TRANSFORM the q111 metric gates —
# remove every chunk occurrence except the globally FIRST (lowest
# (doc_id, chunk_no) per fingerprint, repeats within one doc included)
# and reassemble each document from its surviving chunks in order. The
# winner pick is one min-over-struct aggregate per fingerprint (no
# window sort over the corpus); reassembly is a doc-keyed rollup that
# reuses the chunker's partitioning. Documents reduced to nothing
# survive with empty text (LEFT join back to the doc list) — silently
# dropping them would corrupt downstream row accounting. Rebuilt text
# leaves as md5 + token count (scalar boundary; the full string is the
# real output a pipeline writes).

def q112_chunk_dedup_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    chunks = _content_chunks(docs, keep_text=True)
    winner = chunks.groupBy("chunk_md5").agg(
        F.min(F.struct("doc_id", "chunk_no")).alias("w")
    )
    kept = (
        chunks.join(winner, "chunk_md5")
        .filter(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("chunk_no") == F.col("w.chunk_no"))
        )
        .select("doc_id", "chunk_no", "n_tokens", "chunk_text")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept_chunks"),
        F.sum("n_tokens").alias("n_kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_no", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
        ).alias("__clean"),
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept_chunks", F.lit(0)).alias("n_kept_chunks"),
            F.coalesce("n_kept_tokens", F.lit(0)).alias("n_kept_tokens"),
            F.md5(F.coalesce("__clean", F.lit(""))).alias("clean_md5"),
        )
    )


Q112_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), pos_terms AS (
  SELECT doc_id, p.pos, t[p.pos] AS term
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS pos) p
), flagged AS (
  SELECT doc_id, pos, term,
         CASE WHEN CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT)
                   % 16 = 0 THEN 1 ELSE 0 END AS flag
  FROM pos_terms
), chunked AS (
  SELECT doc_id, pos, term,
         sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
  FROM flagged
), chunks AS (
  SELECT doc_id, chunk_no, count(*) AS n_tokens,
         string_agg(term, ' ' ORDER BY pos) AS chunk_text,
         md5(string_agg(term, ' ' ORDER BY pos)) AS chunk_md5
  FROM chunked GROUP BY doc_id, chunk_no
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY chunk_md5
                               ORDER BY doc_id, chunk_no) AS rn
  FROM chunks
), rebuilt AS (
  SELECT doc_id, count(*) AS n_kept_chunks, sum(n_tokens) AS n_kept_tokens,
         string_agg(chunk_text, ' ' ORDER BY chunk_no) AS clean
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(r.n_kept_chunks, 0) AS BIGINT) AS n_kept_chunks,
       CAST(coalesce(r.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
       md5(coalesce(r.clean, '')) AS clean_md5
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


# PageRank centrality over the copurchase graph (round 4): the first
# ITERATIVE numeric algorithm in the catalog — power iteration as a
# DataFrame loop (operators/graph.py pagerank), here 3 rounds over the
# symmetrized q41 copurchase edges. The oracle UNROLLS the iteration as
# three CTE layers reproducing the exact arithmetic: BIGINT fixed-point
# rank state (1e-12 units) where every step — contribution division,
# damping multiply, reset add — is integer math with exactly one answer
# on any engine (see the pagerank docstring for why the decimal-cast
# boundary was NOT enough here).
# Scale: rank table is node-sized, each round is one edges⋈ranks join +
# one dst groupBy; the corpus-signal use (link/quality centrality) runs
# a fixed small iteration count exactly like this.

def _copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetrized copurchase edges (the q41/q113 graph): parts appearing
    on the same order ≥2 distinct times, both directions. ONE construction
    shared by q113 and q251 — q251's oracle IS q113's oracle, so the edge
    derivations must be the same expression tree by construction, not by
    convention."""
    li = _li(spark, sf).select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )
    # symmetrize via explode, NOT union of two selects: a union would
    # duplicate the whole self-join DAG upstream of the persist inside
    # pagerank (measured 8.0 s → 4.4 s for the full query at sf0.1)
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
                F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def q113_pagerank_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = _copurchase_edges(spark, sf)
    pr = pagerank(edges, iters=3, damping=0.85)
    return pr.select(F.col("node").alias("part"), "rank")


# Fixed-point oracle (see operators/graph.py pagerank): rank_u is
# BIGINT micro-rank (1e-12 units); `//` floors and all values are
# positive, so it equals Spark's truncating `div`. DuckDB sums BIGINT
# into HUGEINT — the re-CAST to BIGINT per round keeps the state type
# (and the damping multiply) identical on both engines.
Q113_SQL = r"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e AS (SELECT pa AS src, pb AS dst FROM p
      UNION ALL SELECT pb AS src, pa AS dst FROM p),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
n AS (SELECT DISTINCT src AS node FROM e),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_u FROM n),
c1 AS (
  SELECT e.dst AS node, sum(r.rank_u // d.outdeg) AS s
  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY 1
),
r1 AS (
  SELECT n.node,
         CAST(150000000000 + coalesce((c.s * 85) // 100, 0) AS BIGINT)
           AS rank_u
  FROM n LEFT JOIN c1 c USING (node)
),
c2 AS (
  SELECT e.dst AS node, sum(r.rank_u // d.outdeg) AS s
  FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY 1
),
r2 AS (
  SELECT n.node,
         CAST(150000000000 + coalesce((c.s * 85) // 100, 0) AS BIGINT)
           AS rank_u
  FROM n LEFT JOIN c2 c USING (node)
),
c3 AS (
  SELECT e.dst AS node, sum(r.rank_u // d.outdeg) AS s
  FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY 1
),
r3 AS (
  SELECT n.node,
         CAST(150000000000 + coalesce((c.s * 85) // 100, 0) AS BIGINT)
           AS rank_u
  FROM n LEFT JOIN c3 c USING (node)
)
SELECT node AS part,
       CAST(rank_u AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS rank
FROM r3
"""


# sliding-window distinct at a NON-DEFAULT width, sliced per group
# (round 4, VERDICT r3 item 7): q101 pins rolling_distinct only at its
# 7-day default — this exercises the explode-to-tumbling reduction at
# window_days=14 and with a group column (per event_type), so the
# window arithmetic (sequence bounds, date_add off-by-one) and the
# grouped shuffle key are both driver-auditable, not just
# hypothesis-tested.

def q116_rolling_distinct_by_type(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.windows import rolling_distinct

    ev = load_table(spark, sf, "events")
    return rolling_distinct(
        ev,
        "user_id",
        "ts",
        window_days=14,
        out="n_users",
        group_cols=("event_type",),
    )


Q116_SQL = """
WITH user_days AS (
  SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day FROM events
), covered AS (
  SELECT event_type, user_id, day + CAST(off AS INT) AS window_day
  FROM user_days, LATERAL (SELECT unnest(generate_series(0, 13)) AS off)
)
SELECT event_type, window_day, count(DISTINCT user_id) AS n_users
FROM covered
GROUP BY event_type, window_day
"""


# BPE tokenizer training (round 4): learn a byte-pair-encoding merge
# table from the documents corpus — the tokenizer-training building
# block (Sennrich et al. 2016). One corpus-scale groupBy compresses the
# token stream into the word-frequency table; every merge iteration is
# vocab-sized (pair count + arg-max + JVM-side fold rewrite — zero
# Python in the loop; see operators/bpe.py for the full scale
# argument). Rows-only by design: the training loop is iterative with
# a per-round arg-max, not SQL-expressible — pinned instead by
# tests/test_bpe.py against a pure-Python reference implementation,
# exact to the tie-break.

# trained-tokenizer artifact cache (round 5, VERDICT r4 item 5): real
# pipelines train the merge table ONCE and every encoder run LOADS the
# artifact — nobody retrains a tokenizer to encode. q114 is the
# training run; q127 loads the artifact and pays encode cost only.
# Training is deterministic (exact integer counts, total-order
# tie-breaks), so results are identical whether the cache hits or not;
# the rows cached are the driver-sized merge table (n_merges rows).
# Measured at sf0.1 (warm session): q127 5.2 s retrain+encode ->
# 3.1 s encode-only. Caveat, recorded deliberately: q127's bench time
# now assumes the artifact exists (q114 runs earlier in the registry);
# the cold path is the +2.1 s retrain.
_BPE_MERGES: dict[tuple[str, int], list] = {}


def _bpe_merge_table(spark: SparkSession, sf: str, n_merges: int = 10) -> DataFrame:
    from ..operators.bpe import _MERGE_SCHEMA, bpe_train

    key = (sf, n_merges)
    if key not in _BPE_MERGES:
        docs = load_table(spark, sf, "documents")
        _BPE_MERGES[key] = bpe_train(docs, n_merges=n_merges).collect()
    return spark.createDataFrame(_BPE_MERGES[key], _MERGE_SCHEMA)


def q114_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    return _bpe_merge_table(spark, sf, n_merges=10)


# corpus-wide boilerplate n-gram mining (round 4): the memorization-risk
# report — the top-20 word-5-grams by DISTINCT-document frequency
# (appearing in ≥ 2 docs), with total occurrence counts. The near-dup
# stack (q110-q112) removes REPEATED CHUNKS; this surfaces the short
# template phrases (headers, licenses, navigation chrome) that survive
# chunk grain — the signal CCNet/RefinedWeb use to strip boilerplate
# lines before training. Scale: one explode + two keyed aggregations;
# the top-20 is a bounded TakeOrderedAndProject (never a full sort), and
# the ≥2-doc filter drops the singleton long tail (the overwhelming mass
# of n-grams) before the final agg. Deterministic tie-break:
# (n_docs DESC, n_occurrences DESC, shingle ASC).

def q115_boilerplate_ngrams(spark: SparkSession, sf: str, n: int = 5, k: int = 20) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # two-step shingling: materialize the token array, THEN slide the
    # 5-gram window over it — word_shingles would re-run the regex
    # normalize+split once per window position (the shingles_from_tokens
    # hot-path rule; measured 4.1 s → 0.75 s on the sf0.1 gram explode)
    toks = docs.select("doc_id", T.tokens("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(T.shingles_from_tokens(F.col("t"), n)).alias("shingle"),
    )
    # two-phase: per-(shingle, doc) counts first, then the shingle
    # rollup — a mixed count_distinct + count agg would Expand the
    # exploded gram stream 2× through the shuffle (the q35 cliff,
    # PERF.md finding 5); this shape shuffles each gram once
    per_doc = grams.groupBy("shingle", "doc_id").agg(
        F.count("*").alias("n_in_doc")
    )
    stats = per_doc.groupBy("shingle").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_in_doc").alias("n_occurrences"),
    )
    return (
        stats.filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "shingle"
        )
        .limit(k)
    )


Q115_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), grams AS (
  -- greatest(..., 1): docs shorter than 5 words yield one whole-doc
  -- shingle, mirroring word_shingles (no doc silently drops out)
  SELECT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 4, 1)),
        i -> array_to_string(t[i:i+4], ' '))) AS shingle
  )
), stats AS (
  SELECT shingle,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_occurrences
  FROM grams GROUP BY shingle
)
SELECT shingle, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM stats WHERE n_docs >= 2
ORDER BY n_docs DESC, n_occurrences DESC, shingle
LIMIT 20
"""


# quantized k-means (round 4): Lloyd's algorithm over int8-quantized
# embeddings — the topic-clustering step of cluster-then-dedup
# (SemDeDup) and cluster-balanced sampling recipes. Integer geometry
# end-to-end makes an iterative float algorithm EXACTLY oracle-able
# (operators/clustering.py has the full exactness + scale argument:
# per-iteration centroid collect is k×d longs, the MLlib execution
# shape; assignment is a narrow zero-shuffle fold).

def q117_kmeans_quantized(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.clustering import kmeans_quantized

    emb = load_table(spark, sf, "embeddings")
    return kmeans_quantized(emb, k=8, iters=3)


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """Unrolled-CTE DuckDB twin of kmeans_quantized (same quantization,
    same strictly-smaller/lowest-cid tie-break, same floor(sum/count)
    centroid update through a correctly-rounded double division)."""
    dot = "list_sum(list_transform(range(1, len(v.q) + 1), i -> v.q[i] * c.c[i]))"
    ncn = "list_sum(list_transform(c.c, b -> b * b))"
    parts = [
        r"""WITH quant AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                  greatest(list_max(list_transform(embedding,
                      y -> abs(CAST(y AS DOUBLE)))), 1e-12)) AS BIGINT)) AS q
  FROM embeddings
), qn AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(q, a -> a * a)) AS BIGINT) AS nq
  FROM quant
), cent0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS c
  FROM (SELECT vec_id, q FROM qn ORDER BY vec_id LIMIT {k})
)""".format(k=k)
    ]
    for it in range(1, iters + 2):
        parts.append(
            f""", assign{it} AS (
  SELECT * FROM (
    SELECT v.vec_id, v.q, v.nq, c.cid,
           CAST(v.nq + {ncn} - 2 * {dot} AS BIGINT) AS dist
    FROM qn v CROSS JOIN cent{it - 1} c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
)"""
        )
        if it <= iters:
            parts.append(
                f""", cent{it} AS (
  SELECT cid, list(cv ORDER BY dim) AS c FROM (
    SELECT cid, dim,
           CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                AS BIGINT) AS cv
    FROM (
      SELECT cid, d.i AS dim, q[d.i] AS qv
      FROM assign{it},
           LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) d
    ) GROUP BY cid, dim
  ) GROUP BY cid
)"""
            )
    parts.append(
        f"""
SELECT CAST(cid AS INT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       min(vec_id) AS rep_id,
       CAST(sum(dist) AS BIGINT) AS inertia
FROM assign{iters + 1}
GROUP BY cid"""
    )
    return "".join(parts)


Q117_SQL = _kmeans_oracle_sql(k=8, iters=3)


# per-dimension embedding health report (round 4): the dead/clipped
# dimension diagnostic a pipeline runs before trusting an embedding
# table (a dimension with ~zero variance carries no signal; one pinned
# at ±127 is saturating the quantizer). All moments are exact integer
# sums over the q74 int8 grid — mean and variance leave as doubles
# computed from IDENTICAL integer operands on both engines
# (n·Σq² − (Σq)², magnitudes < 2^40 ≪ 2^53). Scale: posexplode to N·d
# rows partial-aggregated map-side onto d keys — the canonical
# mergeable-moments shape; no window, no sort, one shuffle of d rows.

def q118_embedding_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.clustering import quantize_embeddings

    emb = load_table(spark, sf, "embeddings")
    quant = quantize_embeddings(emb)
    ex = quant.select(F.posexplode("q").alias("dim", "qv"))
    agg = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("qv").alias("s1"),
        F.sum(F.col("qv") * F.col("qv")).alias("s2"),
        F.min("qv").alias("min_q"),
        F.max("qv").alias("max_q"),
        F.sum(F.when(F.col("qv") == 0, 1).otherwise(0)).alias("n_zero"),
        F.sum(F.when(F.abs("qv") == 127, 1).otherwise(0)).alias("n_clipped"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = (
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n") * F.col("n")).cast("double")
    )
    return agg.select(
        "dim",
        "n",
        mean.alias("mean_q"),
        var.alias("var_q"),
        "min_q",
        "max_q",
        "n_zero",
        "n_clipped",
    )


Q118_SQL = """
WITH quant AS (
  SELECT list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                  greatest(list_max(list_transform(embedding,
                      y -> abs(CAST(y AS DOUBLE)))), 1e-12)) AS BIGINT)) AS q
  FROM embeddings
), ex AS (
  SELECT CAST(d.i - 1 AS INT) AS dim, q[d.i] AS qv
  FROM quant, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) d
), agg AS (
  SELECT dim, count(*) AS n, sum(qv) AS s1, sum(qv * qv) AS s2,
         min(qv) AS min_q, max(qv) AS max_q,
         sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS n_zero,
         sum(CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END) AS n_clipped
  FROM ex GROUP BY dim
)
SELECT dim, CAST(n AS BIGINT) AS n,
       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
       CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE) AS var_q,
       CAST(min_q AS BIGINT) AS min_q, CAST(max_q AS BIGINT) AS max_q,
       CAST(n_zero AS BIGINT) AS n_zero,
       CAST(n_clipped AS BIGINT) AS n_clipped
FROM agg
"""


# token-rarity quality signal (round 4): per-document mean corpus
# frequency RANK of its tokens — the "is this document made of common
# or rare words" lens that complements q104's binary in/out-of-vocab
# rate (CCNet uses the same idea with LM perplexity; rank statistics
# give the exact-arithmetic version: every rank is an integer, the
# per-doc sum is an exact long, and ONE double division leaves the
# engine). Ranking only the TOP-V vocabulary keeps the global sort
# bounded: the vocab rollup is corpus-scale but mergeable, the ranked
# head is a TakeOrderedAndProject of V rows (never a full-vocab window
# at 100 TB), and every tail term collapses to rank V+1 ("rare").

def q119_token_rarity(spark: SparkSession, sf: str, v: int = 500) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # persisted: toks feeds the vocab rollup AND the scoring join — the
    # q120/q121 multi-consumer rule
    toks = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    ).persist()
    freq = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    head = freq.orderBy(F.col("cnt").desc(), "term").limit(v)
    ranked = head.select(
        "term",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "term"))
        .cast("long")
        .alias("rank"),
    )
    scored = toks.join(F.broadcast(ranked), "term", "left").select(
        "doc_id", F.coalesce("rank", F.lit(v + 1).cast("long")).alias("rank")
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("rank").alias("__sum_rank"),
        F.max("rank").alias("max_rank"),
        F.sum(F.when(F.col("rank") == v + 1, 1).otherwise(0)).alias("n_rare"),
    )
    mean_rank = F.col("__sum_rank").cast("double") / F.col(
        "n_tokens"
    ).cast("double")
    return per_doc.select(
        "doc_id", "n_tokens", mean_rank.alias("mean_rank"), "max_rank", "n_rare"
    )


Q119_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS term
  FROM documents
), freq AS (
  SELECT term, count(*) AS cnt FROM toks GROUP BY term
), ranked AS (
  SELECT term,
         row_number() OVER (ORDER BY cnt DESC, term) AS rank
  FROM (SELECT * FROM freq ORDER BY cnt DESC, term LIMIT 500)
), scored AS (
  SELECT t.doc_id, coalesce(r.rank, 501) AS rank
  FROM toks t LEFT JOIN ranked r USING (term)
), per_doc AS (
  SELECT doc_id, count(*) AS n_tokens, sum(rank) AS sum_rank,
         max(rank) AS max_rank,
         sum(CASE WHEN rank = 501 THEN 1 ELSE 0 END) AS n_rare
  FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum_rank AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_rank,
       CAST(max_rank AS BIGINT) AS max_rank,
       CAST(n_rare AS BIGINT) AS n_rare
FROM per_doc
"""


# cross-source contamination matrix (round 4): for every pair of
# sources, the count and Jaccard of SHARED word-5-gram fingerprints —
# the provenance-level view of q70's per-benchmark contamination check
# (which crawl feeds copied from which; which pairs need dedup before
# mixing). Exact integers + one double ratio. Scale: the inverted index
# on the 8-byte shingle hash emits at most C(#sources, 2) pairs per
# shingle (sources are a small dimension, not corpus-scale), and the
# per-source distinct-shingle counts broadcast onto the pair rollup.

def q120_source_overlap(spark: SparkSession, sf: str, n: int = 5) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = docs.select("source", T.tokens("text").alias("t"))
    grams = toks.select(
        "source",
        F.explode(T.shingles_from_tokens(F.col("t"), n)).alias("shingle"),
    )
    # persisted: sg feeds the per-source counts AND both sides of the
    # pair self-join — unpersisted, the tokenize+shingle+distinct
    # pipeline runs three times (measured 3.8 s → 2.0 s at sf0.1)
    sg = (
        grams.select("source", md5_prefix_long("shingle").alias("g"))
        .distinct()
        .persist()
    )
    per_src = sg.groupBy("source").agg(F.count("*").alias("n_grams"))
    pairs = (
        sg.alias("a")
        .join(sg.alias("b"), "g")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        pairs.join(
            F.broadcast(per_src.select(F.col("source").alias("src_a"), F.col("n_grams").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(per_src.select(F.col("source").alias("src_b"), F.col("n_grams").alias("nb"))),
            "src_b",
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    ).cast("double")
    return out.select(
        "src_a", "src_b", "n_shared", "na", "nb", jac.alias("jaccard")
    )


Q120_SQL = r"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT source, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 4, 1)),
        i -> array_to_string(t[i:i+4], ' '))) AS shingle
  )
), sg AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS g
  FROM grams
), per_src AS (
  SELECT source, count(*) AS n_grams FROM sg GROUP BY source
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(pa.n_grams AS BIGINT) AS na, CAST(pb.n_grams AS BIGINT) AS nb,
       CAST(p.n_shared AS DOUBLE)
         / CAST(pa.n_grams + pb.n_grams - p.n_shared AS DOUBLE) AS jaccard
FROM pairs p
JOIN per_src pa ON pa.source = p.src_a
JOIN per_src pb ON pb.source = p.src_b
"""


# boilerplate STRIP rewrite (round 4): q115 MINES the template phrases;
# this applies the removal — every token position covered by an
# occurrence of a top-20 boilerplate 5-gram is dropped and the document
# re-assembled (the CCNet/RefinedWeb "strip chrome before training"
# step at this corpus's available grain). Deterministic end-to-end:
# the cleaned text leaves as an md5 fingerprint. Scale: the mined set
# is K rows (broadcast); coverage is hits-sized (positions of matched
# grams only, never |doc|·|K|); the rewrite is one narrow lambda filter
# per doc inside codegen.

def q121_boilerplate_strip(
    spark: SparkSession, sf: str, n: int = 5, k: int = 20
) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", T.tokens("text").alias("t"))
    # persisted: grams feeds the boilerplate miner AND the hit scan —
    # unpersisted, the tokenize+shingle explode runs twice
    grams = toks.select(
        "doc_id",
        F.posexplode(T.shingles_from_tokens(F.col("t"), n)).alias(
            "pos", "shingle"
        ),
    ).persist()
    per_doc = grams.groupBy("shingle", "doc_id").agg(
        F.count("*").alias("n_in_doc")
    )
    bp = (
        per_doc.groupBy("shingle")
        .agg(F.count("*").alias("n_docs"), F.sum("n_in_doc").alias("n_occ"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "shingle")
        .limit(k)
        .select("shingle")
    )
    hits = grams.join(F.broadcast(bp), "shingle")
    cov = (
        hits.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("cp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("cp").alias("cov"))
    )
    out = toks.join(cov, "doc_id", "left")
    cleaned = F.filter(
        "t",
        lambda x, i: F.col("cov").isNull() | ~F.array_contains("cov", i),
    )
    return out.select(
        "doc_id",
        F.size("t").alias("n_before"),
        F.size(cleaned).alias("n_after"),
        F.md5(F.array_join(cleaned, " ")).alias("clean_fp"),
    )


Q121_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, CAST(d.i - 1 AS INT) AS pos,
         array_to_string(t[d.i:d.i+4], ' ') AS shingle
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i) d
), bp AS (
  SELECT shingle FROM (
    SELECT shingle, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
    FROM grams GROUP BY shingle
  ) WHERE n_docs >= 2
  ORDER BY n_docs DESC, n_occ DESC, shingle LIMIT 20
), cov AS (
  SELECT doc_id, list(DISTINCT cp) AS cov
  FROM (
    SELECT g.doc_id, g.pos + off.o AS cp
    FROM grams g JOIN bp USING (shingle),
         LATERAL (SELECT unnest(generate_series(0, 4)) AS o) off
  ) GROUP BY doc_id
), rebuilt AS (
  SELECT t.doc_id, t.t,
         CASE WHEN c.cov IS NULL THEN t.t
              ELSE list_filter(
                  list_transform(generate_series(1, len(t.t)),
                      i -> CASE WHEN list_contains(c.cov, i - 1)
                                THEN NULL ELSE t.t[i] END),
                  x -> x IS NOT NULL)
         END AS clean
  FROM toks t LEFT JOIN cov c USING (doc_id)
)
SELECT doc_id, CAST(len(t) AS INT) AS n_before,
       CAST(len(clean) AS INT) AS n_after,
       md5(array_to_string(clean, ' ')) AS clean_fp
FROM rebuilt
"""


# canonical near-dup selection (round 4): q49 finds the near-dup
# components with a min-id canonical; real curation keeps the BEST
# document of each cluster, not the first — here arg-max quality score
# (q22's exact-decimal signal) with a lowest-id tie-break, via ONE
# min(struct(-quality, id)) aggregate per component (no window over the
# pair set). Components and quality are both already-green building
# blocks; the composition stays exact.

def q122_canonical_selection(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    comp = dedup_clusters(pairs.select("doc_a", "doc_b"))
    quality = docs.select(
        "doc_id", T.quality_score("text").cast("decimal(9,6)").alias("q")
    )
    scored = comp.join(quality, "doc_id")
    best = F.min(F.struct((-F.col("q")).alias("nq"), F.col("doc_id").alias("id")))
    return scored.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        best["id"].alias("canon_id"),
        (-best["nq"]).alias("canon_quality"),
    )


def _q122_oracle_sql() -> str:
    """Reuse Q49's recursive-component skeleton, then arg-max quality."""
    comp = Q49_SQL.strip().rsplit("SELECT node", 1)[0].rstrip()
    quality = Q22_SQL.strip()
    return (
        comp
        + """, comp AS (
  SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node
), quality AS (
  SELECT doc_id, quality AS q FROM (
"""
        + quality
        + """
  )
), ranked AS (
  SELECT c.component_id, c.doc_id, q.q,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY q.q DESC, c.doc_id) AS rn,
         count(*) OVER (PARTITION BY c.component_id) AS n_members
  FROM comp c JOIN quality q USING (doc_id)
)
SELECT component_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS canon_id, q AS canon_quality
FROM ranked WHERE rn = 1
"""
    )


Q122_SQL = _q122_oracle_sql()


# token-quota sampling (round 4; SHARDED round 5): the data-recipe
# EXECUTOR — fill each source's token quota by walking its documents in
# deterministic md5-hash order (an unbiased, reproducible shuffle: no
# RNG, no seed drift between engines) and keeping documents while the
# running token total fits. Round 5 (VERDICT r4 item 2): the running
# sum is the TWO-PHASE prefix sum of recipe.hash_order_cumsum — shard
# on a hex prefix of the fill-order hash, shard-local window cumsums,
# tiny per-(source, shard) offset table broadcast back. Bit-identical
# to the one-partition-per-source window (shard order == hash order by
# construction), so the oracle is unchanged, but the longest task is
# |source|/16 instead of |source| — the 100 TB path is the executed
# path, not prose. Plan pin: test_recipe.py asserts the big Exchange
# hash-partitions on (source, __shard).

def q123_quota_sample(
    spark: SparkSession, sf: str, quota: int = 800
) -> DataFrame:
    from ..operators.recipe import hash_order_cumsum

    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "source",
        "doc_id",
        T.token_count("text").cast("bigint").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    cum = hash_order_cumsum(staged)
    return cum.filter(F.col("cum_tok") <= quota).select(
        "source", "doc_id", "n_tok", "cum_tok"
    )


Q123_SQL = r"""
WITH staged AS (
  SELECT source, doc_id,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), cum AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM staged
)
SELECT source, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
FROM cum WHERE cum_tok <= 800
"""


# mixture epoch planner (round 4): turns q103's temperature-scaled
# target shares into the per-source REPEAT FACTORS (epochs) a training
# run actually consumes — ideal tokens = budget · temp_share, epochs =
# ideal / available capped at 4.0 (the standard "don't repeat a small
# source forever" rule), planned tokens = floor(epochs_capped ·
# available). Every aggregate is an exact integer or decimal sum
# (q103's sqrt-decimal trick); the per-row double chain is identical
# scalar IEEE ops on identical operands on both engines. Sources-sized
# output; two tiny broadcast normalizers, shuffle carries sources rows.

def q124_epoch_plan(
    spark: SparkSession, sf: str, budget: int = 50_000
) -> DataFrame:
    from ..operators.recipe import plan_epochs

    docs = load_table(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.sum(T.token_count("text").cast("bigint")).alias("n_tokens")
    )
    plan = plan_epochs(per, "n_tokens", budget)
    return plan.select(
        "source",
        "n_tokens",
        "ideal_tokens",
        "epochs",
        F.floor(F.col("epochs") * F.col("n_tokens").cast("double")).alias(
            "planned_tokens"
        ),
    )


Q124_SQL = r"""
WITH per AS (
  SELECT source,
         CAST(sum(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per
), shared AS (
  SELECT source, n_tokens,
         CAST(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))
              AS DECIMAL(18,9)) AS temp_w
  FROM per CROSS JOIN tot
), norm AS (
  SELECT sum(CAST(temp_w AS DECIMAL(28,9))) AS z FROM shared
), planned AS (
  SELECT source, n_tokens,
         50000.0 * (CAST(temp_w AS DOUBLE) / CAST(z AS DOUBLE))
           AS ideal_tokens
  FROM shared CROSS JOIN norm
)
SELECT source, n_tokens, ideal_tokens,
       least(ideal_tokens / CAST(n_tokens AS DOUBLE), 4.0) AS epochs,
       CAST(floor(least(ideal_tokens / CAST(n_tokens AS DOUBLE), 4.0)
            * CAST(n_tokens AS DOUBLE)) AS BIGINT) AS planned_tokens
FROM planned
"""


# n-gram novelty between corpus snapshots (round 4): what fraction of
# each NEW document's 3-gram shingles has never been seen in the
# existing corpus — the freshness/novelty signal a crawl pipeline uses
# to decide whether a feed still adds information (near-zero novelty =>
# the source is exhausted or a mirror). Same old/new split as
# q107/q108. Scale: the old-corpus side collapses to a DISTINCT 8-byte
# shingle index once (exactly the q107 incremental-state shape, so at
# rest it is already materialized), and the batch side is one left
# join + per-doc rollup.

def q125_ngram_novelty(spark: SparkSession, sf: str, n: int = 3) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", T.tokens("text").alias("t"), (F.col("doc_id") % 5 < 3).alias("is_old")
    )
    # persisted: sh feeds the old-corpus index AND the new-batch side —
    # the q120/q121 multi-consumer rule
    sh = (
        toks.select(
            "doc_id",
            "is_old",
            F.explode(T.shingles_from_tokens(F.col("t"), n)).alias("shingle"),
        )
        .select("doc_id", "is_old", md5_prefix_long("shingle").alias("g"))
        .persist()
    )
    old_idx = sh.filter("is_old").select("g").distinct()
    new_sh = sh.filter(~F.col("is_old")).select("doc_id", "g").distinct()
    marked = new_sh.join(
        old_idx.withColumn("__seen", F.lit(1)), "g", "left"
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        (F.count("*") - F.count("__seen")).alias("n_novel"),
    )
    nov = F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")
    return per_doc.select(
        "doc_id", "n_shingles", "n_novel", nov.alias("novelty")
    )


Q125_SQL = r"""
WITH toks AS (
  SELECT doc_id, doc_id % 5 < 3 AS is_old,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id, is_old,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS g
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), old_idx AS (
  SELECT DISTINCT g FROM sh WHERE is_old
), new_sh AS (
  SELECT DISTINCT doc_id, g FROM sh WHERE NOT is_old
), marked AS (
  SELECT n.doc_id, n.g, o.g IS NOT NULL AS seen
  FROM new_sh n LEFT JOIN old_idx o USING (g)
), per_doc AS (
  SELECT doc_id, count(*) AS n_shingles,
         count(*) - count(CASE WHEN seen THEN 1 END) AS n_novel
  FROM marked GROUP BY doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_novel AS BIGINT) AS n_novel,
       CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
FROM per_doc
"""


# Johnson-Lindenstrauss random projection (round 4): reduce the
# quantized embedding from d=64 to d_out=16 with a deterministic ±1
# projection (sign = md5 parity of "rp<din>:<dout>" — no RNG, no seed
# drift, identical matrix in any engine). The cheap dimensionality
# squeeze ahead of LSH/IVF when the raw dimension is wide. Exact
# integer arithmetic end-to-end => value-checkable. Scale: the
# projection table is d·d_out rows (broadcast); the explode shuffles
# N·d narrow rows onto (vec, dout) keys with map-side partial sums —
# no per-row Python, no matrix library.

def q126_random_projection(
    spark: SparkSession, sf: str, d_out: int = 16
) -> DataFrame:
    from ..operators.clustering import quantize_embeddings

    emb = load_table(spark, sf, "embeddings")
    quant = quantize_embeddings(emb).select("vec_id", "q")
    proj = (
        spark.range(64)
        .select(F.col("id").cast("int").alias("din"))
        .crossJoin(
            spark.range(d_out).select(F.col("id").cast("int").alias("dout"))
        )
        .select(
            "din",
            "dout",
            F.when(
                md5_prefix_long(
                    F.concat(F.lit("rp"), F.col("din"), F.lit(":"), F.col("dout"))
                )
                % 2
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("sign"),
        )
    )
    ex = quant.select("vec_id", F.posexplode("q").alias("din", "qv"))
    sums = (
        ex.join(F.broadcast(proj), "din")
        .groupBy("vec_id", "dout")
        .agg(F.sum(F.col("qv") * F.col("sign")).alias("s"))
    )
    vecs = (
        sums.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("dout", "s"))).alias("__ds"))
        .select(
            "vec_id",
            F.transform(F.col("__ds"), lambda t: t["s"]).alias("proj"),
        )
    )
    pnorm = F.aggregate(
        F.transform("proj", lambda a: a * a),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # the projected vector leaves as CSV: the driver's pandas-side hash
    # cannot sort/hash list cells (the catalog-wide complex-type ban)
    return vecs.select(
        "vec_id",
        F.array_join(F.transform("proj", lambda a: a.cast("string")), ",").alias(
            "proj_csv"
        ),
        pnorm.alias("pnorm"),
    )


Q126_SQL = """
WITH quant AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                  greatest(list_max(list_transform(embedding,
                      y -> abs(CAST(y AS DOUBLE)))), 1e-12)) AS BIGINT)) AS q
  FROM embeddings
), proj AS (
  SELECT din.d AS din, dout.d AS dout,
         CASE WHEN CAST(('0x' || substr(md5('rp' || din.d || ':' || dout.d),
                        1, 15)) AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM (SELECT unnest(range(0, 64)) AS d) din,
       (SELECT unnest(range(0, 16)) AS d) dout
), ex AS (
  SELECT vec_id, CAST(d.i - 1 AS INT) AS din, q[d.i] AS qv
  FROM quant, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) d
), sums AS (
  SELECT vec_id, dout, CAST(sum(qv * sign) AS BIGINT) AS s
  FROM ex JOIN proj USING (din)
  GROUP BY vec_id, dout
), vecs AS (
  SELECT vec_id, list(s ORDER BY dout) AS proj
  FROM sums GROUP BY vec_id
)
SELECT vec_id,
       array_to_string(proj, ',') AS proj_csv,
       CAST(list_sum(list_transform(proj, a -> a * a)) AS BIGINT) AS pnorm
FROM vecs
"""


# BPE tokenizer APPLICATION (round 4): encode every document with the
# merge table q114 trains — the deploy half of the tokenizer loop
# (train once, encode the corpus). Rows-only by design like q114: the
# encoder applies merges sequentially (operators/bpe.py bpe_encode —
# a JVM-side fold, zero Python in the hot path); the iterative merge
# application is not SQL-expressible, and tests/test_bpe.py pins the
# encoding against a pure-Python reference instead.

def q127_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import bpe_encode

    docs = load_table(spark, sf, "documents")
    merges = _bpe_merge_table(spark, sf, n_merges=10)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.md5(F.array_join("bpe_tokens", " ")).alias("enc_fp"),
    )


# sliding-window distinct, SKETCH tier (round 4): the executable form
# of the scale path q101/q116's exact tier documents — one theta sketch
# per (type, day), the slide explodes DAY-SKETCHES (independent of both
# raw volume and distinct-id volume) and union-merges per window day.
# Oracled because theta sketches below their nominal 4096 entries are
# in EXACT mode (estimates are exact integers, unions stay exact; max
# window cardinality here is 1452 at sf0.1) — see
# operators/windows.py rolling_distinct_sketch for the contract.

def q128_rolling_distinct_sketch(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.windows import rolling_distinct_sketch

    ev = load_table(spark, sf, "events")
    return rolling_distinct_sketch(
        ev,
        "user_id",
        "ts",
        window_days=7,
        out="est_users",
        group_cols=("event_type",),
    )


Q128_SQL = """
WITH user_days AS (
  SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day FROM events
), covered AS (
  SELECT event_type, user_id, day + CAST(off AS INT) AS window_day
  FROM user_days, LATERAL (SELECT unnest(generate_series(0, 6)) AS off)
)
SELECT event_type, window_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS est_users
FROM covered
GROUP BY event_type, window_day
"""


# event-volume anomaly detection (round 4): flag days whose per-type
# event count deviates > 3σ from the trailing-7-observed-day window —
# the ingestion-monitoring alarm (a feed that doubles or dies shows up
# here before it poisons the corpus). The entire flag decision is EXACT
# integer arithmetic: with S = Σcnt, n = #days, Q = Σcnt² over the
# trailing frame, flag ⇔ (n·x − S)² > 9·(n·Q − S²) — no float mean/std
# in the decision path (σ = 0 degenerates correctly: any deviation
# flags). The reported z = (n·x − S)/√(n·Q − S²) is one sqrt + one
# divide on identical integer operands, IEEE-portable. Scale: daily
# rollup is map-side combined; the window runs per event_type over
# OBSERVED days (compose with q96's spine to gap-fill first if silence
# itself must alarm).

def q129_event_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    # DECIMAL(38,0) for the decision arithmetic: with daily counts up to
    # ~1e9 (the 100 TB ingestion scale this targets), Q = Σcnt² reaches
    # ~1e19 > 2^63 and dev² another square beyond — long math would
    # throw under ANSI mode exactly when the query matters most. Exact
    # decimal integers carry the same one-answer property to ~1e38.
    d38 = "decimal(38,0)"
    cnt_d = F.col("cnt").cast(d38)
    stats = daily.select(
        "event_type",
        "day",
        "cnt",
        F.count("cnt").over(w).alias("n"),
        F.sum(cnt_d).over(w).alias("s"),
        F.sum(cnt_d * cnt_d).over(w).alias("q"),
    ).filter(F.col("n") >= 3)
    n_d = F.col("n").cast(d38)
    dev = n_d * cnt_d - F.col("s")
    var_n2 = n_d * F.col("q") - F.col("s") * F.col("s")
    z = F.when(
        var_n2 > 0,
        dev.cast("double") / F.sqrt(var_n2.cast("double")),
    )
    return stats.select(
        "event_type",
        "day",
        "cnt",
        "n",
        (dev * dev > F.lit(9).cast(d38) * var_n2).alias("is_anomaly"),
        z.alias("z"),
    )


Q129_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS HUGEINT) AS cnt
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, day, cnt,
         CAST(count(cnt) OVER w AS HUGEINT) AS n,
         sum(cnt) OVER w AS s,
         sum(cnt * cnt) OVER w AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt, CAST(n AS BIGINT) AS n,
       (n * cnt - s) * (n * cnt - s) > 9 * (n * q - s * s) AS is_anomaly,
       CASE WHEN n * q - s * s > 0
            THEN CAST(n * cnt - s AS DOUBLE)
                 / sqrt(CAST(n * q - s * s AS DOUBLE)) END AS z
FROM stats WHERE n >= 3
"""


# near-dup pair scoring (round 4): the REVIEW-QUEUE view of the exact
# pair tier — jaccard alone misses subset duplicates (a doc wholly
# contained in a longer one scores low jaccard but containment ≈ 1),
# so curation pipelines score candidate pairs on BOTH. Containment =
# |A∩B| / min(|A|,|B|); the q20 machinery provides the exact
# intersection/sizes, this query re-filters on the containment axis.

def q130_pair_containment(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    contain = (
        F.col("n_common").cast("double")
        / F.least("size_a", "size_b").cast("double")
    ).cast("decimal(9,6)")
    ratio = (
        F.least("size_a", "size_b").cast("double")
        / F.greatest("size_a", "size_b").cast("double")
    ).cast("decimal(9,6)")
    return (
        pairs.withColumn("containment", contain)
        .withColumn("size_ratio", ratio)
        .filter(F.col("containment") >= 0.6)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            "jaccard",
            "containment",
            "size_ratio",
        )
    )


Q130_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), sizes AS (
  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_a, doc_b, n_common, sa.set_size AS size_a, sb.set_size AS size_b,
         CAST(CAST(n_common AS DOUBLE)
              / (sa.set_size + sb.set_size - n_common) AS DECIMAL(9,6)) AS jaccard,
         CAST(CAST(n_common AS DOUBLE)
              / least(sa.set_size, sb.set_size) AS DECIMAL(9,6)) AS containment,
         CAST(CAST(least(sa.set_size, sb.set_size) AS DOUBLE)
              / greatest(sa.set_size, sb.set_size) AS DECIMAL(9,6)) AS size_ratio
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(size_a AS BIGINT) AS size_a, CAST(size_b AS BIGINT) AS size_b,
       jaccard, containment, size_ratio
FROM scored WHERE containment >= 0.6
"""


# packing-efficiency report (round 4): the utilization panel for q75's
# concat-and-chunk packing — per shard: docs, tokens, sequences
# consumed, fill ratio against the budget, and how many documents
# straddle a sequence boundary (each straddler needs an attention-mask
# split downstream). Padding waste is a direct training-cost line item;
# this is the query that justifies (or indicts) a packing budget.
# Exact integers + one double ratio; rollup is shards-sized.

def q131_packing_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    staged = docs.select("doc_id", T.token_count("text").alias("n_tok"))
    packed = pack_concat_chunk(staged, "n_tok", budget=2048, n_shards=16)
    per_shard = packed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max(F.col("stream_begin") + F.col("n_tokens"))).alias("__stream"),
        F.sum(F.when(F.col("n_seqs") > 1, 1).otherwise(0)).alias(
            "n_straddlers"
        ),
    )
    n_seqs = F.expr("(__stream + 2047) div 2048")
    util = F.col("total_tokens").cast("double") / (
        n_seqs * F.lit(2048)
    ).cast("double")
    return per_shard.select(
        "shard",
        "n_docs",
        "total_tokens",
        n_seqs.alias("n_seqs"),
        util.alias("utilization"),
        "n_straddlers",
    )


Q131_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 16 AS INT) AS shard
  FROM documents
), spanned AS (
  SELECT doc_id, n_tokens, shard,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS stream_begin
  FROM toks
), seqs AS (
  SELECT doc_id, n_tokens, shard, stream_begin,
         CASE WHEN n_tokens > 0
              THEN (stream_begin + n_tokens - 1) // 2048
                   - stream_begin // 2048 + 1
              ELSE 0 END AS n_seqs
  FROM spanned
), per_shard AS (
  SELECT shard, count(*) AS n_docs, sum(n_tokens) AS total_tokens,
         max(stream_begin + n_tokens) AS stream,
         sum(CASE WHEN n_seqs > 1 THEN 1 ELSE 0 END) AS n_straddlers
  FROM seqs GROUP BY shard
)
SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST((stream + 2047) // 2048 AS BIGINT) AS n_seqs,
       CAST(total_tokens AS DOUBLE)
         / CAST(((stream + 2047) // 2048) * 2048 AS DOUBLE) AS utilization,
       CAST(n_straddlers AS BIGINT) AS n_straddlers
FROM per_shard
"""


# near-dup cluster size distribution (round 4): the shape report on the
# q49 component table — how much of the duplication mass sits in a few
# mega-clusters vs a long tail of pairs decides whether canonical
# selection (q122) or aggressive drop is the right policy. Composes
# the existing component machinery; histogram rollup is cluster-sized.

def q132_dup_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    comp = dedup_clusters(pairs.select("doc_a", "doc_b"))
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


def _q132_oracle_sql() -> str:
    comp = Q49_SQL.strip().rsplit("SELECT node", 1)[0].rstrip()
    return (
        comp
        + """, comp AS (
  SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node
), csize AS (
  SELECT component_id, count(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM csize GROUP BY cluster_size
"""
    )


Q132_SQL = _q132_oracle_sql()


# grouped EXACT percentiles (round 4): per-source nearest-rank p50/p90
# of the q22 quality score — the per-feed quality yardstick a mixing
# policy reads (q37 is the global/approximate twin). Nearest-rank on a
# total (quality, doc_id) order with INTEGER rank targets (ceil(p·n)
# computed as (p·n + d−1) div d) — no float percentile interpolation,
# so both engines select the identical row. One window per source +
# one rollup; at scale the window runs per (source) key — the same
# bounded-group shape as every per-source panel here.

def q133_quality_percentiles_by_source(
    spark: SparkSession, sf: str
) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        T.quality_score("text").cast("decimal(9,6)").alias("q"),
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    ranked = scored.select(
        "source",
        "q",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    p50 = F.expr("(n + 1) div 2")
    p90 = F.expr("(9 * n + 9) div 10")
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max(F.when(F.col("rn") == p50, F.col("q"))).alias("p50_quality"),
        F.max(F.when(F.col("rn") == p90, F.col("q"))).alias("p90_quality"),
    )


Q133_SQL = (
    """
WITH scored AS (
  SELECT source, doc_id, quality AS q FROM (
"""
    + Q22_SQL.strip()
    + """
  ) qq JOIN documents USING (doc_id)
), ranked AS (
  SELECT source, q,
         row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
)
SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       max(CASE WHEN rn = (n + 1) // 2 THEN q END) AS p50_quality,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN q END) AS p90_quality
FROM ranked GROUP BY source
"""
)


# end-to-end training-data recipe (round 4 flagship composition):
# quality gate → exact dedup (keep lowest id per fingerprint) →
# deterministic train/val/test split → temperature-scaled per-source
# token quotas (q103/q124 machinery on the SURVIVING corpus) →
# hash-ordered quota fill (q123 machinery against the DATA-DEPENDENT
# quota) → per-source release summary. This is the chain a user runs to
# go from raw crawl to a mixed, split, budgeted training set; every
# stage is an already-proven catalog operator, composed here and
# value-checked END-TO-END (an oracle over the whole chain catches
# stage-boundary drift that per-stage oracles cannot). Scale: gates and
# fingerprints are narrow; dedup is one fp-keyed window; quotas are
# sources-sized broadcasts; the fill is one per-source window — no
# stage materializes more than the corpus once (kept is persisted for
# its two consumers: quota computation and the fill walk).

def q134_training_recipe(
    spark: SparkSession, sf: str, budget: int = 20_000
) -> DataFrame:
    from ..functions.sampling import deterministic_split
    from ..operators.recipe import hash_order_cumsum, with_temperature_weights
    from ..operators.windows import dedup_keep_first

    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        T.token_count("text").cast("bigint").alias("n_tok"),
        T.quality_score("text").cast("decimal(9,6)").alias("q"),
        T.fingerprint("text").alias("fp"),
    )
    q_min = F.lit("0.45").cast("decimal(9,6)")
    # persisted: gated feeds the kept lineage AND g_agg — score the
    # regex-heavy quality/token columns once, not twice (ADVICE r4)
    gated = staged.filter(
        (F.col("n_tok") >= 20) & (F.col("q") >= q_min)
    ).persist()
    # round 5 (VERDICT r4 item 3): every stage below is the SAME
    # function its component query runs — dedup_keep_first (q03's W1),
    # with_temperature_weights (q103), hash_order_cumsum (q123's
    # sharded fill), deterministic_split (q48) — so a stage fix cannot
    # drift this composition
    kept = dedup_keep_first(gated, ["fp"], [F.col("doc_id")]).withColumn(
        "split", deterministic_split("doc_id")
    ).persist()
    per = kept.groupBy("source").agg(F.sum("n_tok").alias("avail"))
    planned = with_temperature_weights(per, "avail").select(
        "source",
        "avail",
        F.floor(
            F.lit(float(budget))
            * (F.col("temp_w").cast("double") / F.col("z").cast("double"))
        ).alias("quota"),
    )
    cum = hash_order_cumsum(kept, out_col="__cum")
    selected = cum.join(F.broadcast(planned.select("source", "quota")), "source").filter(
        F.col("__cum") <= F.col("quota")
    )
    sel_agg = selected.groupBy("source").agg(
        F.count("*").alias("n_selected"),
        F.sum("n_tok").alias("tok_selected"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
    )
    g_agg = gated.groupBy("source").agg(F.count("*").alias("n_gated"))
    k_agg = kept.groupBy("source").agg(F.count("*").alias("n_kept"))
    # sel_agg joins LEFT with zero-filled defaults: a source whose
    # lowest-hash doc already overflows its quota selects nothing, and
    # the release summary must REPORT that funnel collapse, not drop
    # the source's row
    zero = F.lit(0).cast("bigint")
    return (
        g_agg.join(k_agg, "source")
        .join(planned, "source")
        .join(sel_agg, "source", "left")
        .select(
            "source",
            "n_gated",
            "n_kept",
            "avail",
            "quota",
            F.coalesce("n_selected", zero).alias("n_selected"),
            F.coalesce("tok_selected", zero).alias("tok_selected"),
            F.coalesce("n_train", zero).alias("n_train"),
            F.coalesce("n_val", zero).alias("n_val"),
            F.coalesce("n_test", zero).alias("n_test"),
        )
    )


Q134_SQL = (
    r"""
WITH q22 AS (
"""
    + Q22_SQL.strip()
    + r"""
), staged AS (
  SELECT d.doc_id, d.source,
         CAST(q22.n_tokens AS BIGINT) AS n_tok,
         q22.quality AS q,
         md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))) AS fp
  FROM documents d JOIN q22 USING (doc_id)
), gated AS (
  SELECT * FROM staged
  WHERE n_tok >= 20 AND q >= CAST(0.45 AS DECIMAL(9,6))
), kept AS (
  SELECT doc_id, source, n_tok,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000 < 900 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 1000 < 950 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), per AS (
  SELECT source, sum(n_tok) AS avail FROM kept GROUP BY source
), tot AS (
  SELECT sum(avail) AS tot FROM per
), shared AS (
  SELECT source, avail,
         CAST(sqrt(CAST(avail AS DOUBLE) / CAST(tot AS DOUBLE))
              AS DECIMAL(18,9)) AS tw
  FROM per CROSS JOIN tot
), norm AS (
  SELECT sum(CAST(tw AS DECIMAL(28,9))) AS z FROM shared
), planned AS (
  SELECT source, avail,
         CAST(floor(20000.0 * (CAST(tw AS DOUBLE) / CAST(z AS DOUBLE)))
              AS BIGINT) AS quota
  FROM shared CROSS JOIN norm
), cum AS (
  SELECT k.*,
         sum(n_tok) OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM kept k
), selected AS (
  SELECT c.* FROM cum c JOIN planned p USING (source)
  WHERE c.cum <= p.quota
), sel_agg AS (
  SELECT source, count(*) AS n_selected, sum(n_tok) AS tok_selected,
         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
         sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val,
         sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
  FROM selected GROUP BY source
), g_agg AS (
  SELECT source, count(*) AS n_gated FROM gated GROUP BY source
), k_agg AS (
  SELECT source, count(*) AS n_kept FROM kept GROUP BY source
)
SELECT g.source, CAST(g.n_gated AS BIGINT) AS n_gated,
       CAST(k.n_kept AS BIGINT) AS n_kept,
       CAST(p.avail AS BIGINT) AS avail, p.quota,
       CAST(coalesce(s.n_selected, 0) AS BIGINT) AS n_selected,
       CAST(coalesce(s.tok_selected, 0) AS BIGINT) AS tok_selected,
       CAST(coalesce(s.n_train, 0) AS BIGINT) AS n_train,
       CAST(coalesce(s.n_val, 0) AS BIGINT) AS n_val,
       CAST(coalesce(s.n_test, 0) AS BIGINT) AS n_test
FROM g_agg g
JOIN k_agg k USING (source)
JOIN planned p USING (source)
LEFT JOIN sel_agg s USING (source)
"""
)


# audio feature extraction (round 4): completes the modality set —
# even doc_ids become REAL RIFF/WAVE PCM-16 clips (constant 44-byte
# header literal + text bytes as samples, decoded by the real
# chunk-walking parser in operators/audio.py); odd ids ride the
# FAKEAUD container (the documented stub for compressed formats). One
# Arrow mapInPandas featurizer serves both; features are exact
# integers. Not SQL-expressible (byte decode) → rows-only.

def q135_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.audio import extract_audio_features, wav_header

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 500)
    header = F.lit(wav_header(8000, 1, 256))
    # payload is forced to printable ASCII before the byte cast: rpad
    # counts CHARACTERS while the header declares 256 BYTES, so one
    # multibyte character in a regenerated fixture would otherwise spill
    # extra bytes past the data chunk for the walker to misparse
    ascii_text = F.regexp_replace(
        F.substring("text", 1, 256), r"[^\x20-\x7e]", "x"
    )
    wav = F.concat(header, F.rpad(ascii_text, 256, "x").cast("binary"))
    fake = F.concat(F.lit(b"FAKEAUD|8000|1|"), F.col("text").cast("binary"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, wav).otherwise(fake).alias("content"),
    )
    return extract_audio_features(media)


# ANN recall evaluation (round 4; PARTIAL ORACLE round 5): recall@10
# of the IVF tier (q28's configuration) against the exact tier
# (q25's), per query vector — the index-quality gate a pipeline runs
# before trusting an ANN configuration at scale. Round 5 applies the
# q35 partial-oracle split (VERDICT r4 item 4): the EXACT component
# (per-query exact-tier result size, a real cosine top-k the oracle
# recomputes end-to-end) is hash-compared, and the approximate IVF
# side crosses the boundary as two band booleans the oracle asserts
# TRUE — every query keeps >= 1 true neighbor (measured min recall
# 0.2-0.3 across scales) and the mean recall clears 0.5 (measured
# 0.80-0.89). Raw recall values stay out of the projection (cell
# routing is approximate by design); tests pin the full distribution.

def q136_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    per_q = SIM.ann_recall(emb, queries, k=10, n_cells=16, nprobe=4)
    mean_ok = per_q.agg(
        (F.avg("recall") >= F.lit(0.5)).alias("mean_recall_ok")
    )
    return per_q.crossJoin(F.broadcast(mean_ok)).select(
        "query_id",
        "n_exact",
        (F.col("n_hits") >= 1).alias("found_any"),
        "mean_recall_ok",
    )


Q136_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv) /
           nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv)), 0.0) AS cs
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
       TRUE AS found_any, TRUE AS mean_recall_ok
FROM ranked WHERE rn <= 10 GROUP BY query_id
"""


# adaptive per-source quality gate (round 4): keep documents scoring
# at or above their OWN source's 25th-percentile quality — the
# per-feed-adaptive version of q134's fixed global threshold (source
# quality distributions differ; one global cut over-prunes clean feeds
# and under-prunes noisy ones — the CCNet insight applied with exact
# rank arithmetic). Thresholds come from q133's nearest-rank machinery
# (integer rank targets, no float interpolation); the gate is one
# broadcast join of a sources-sized threshold table.

def q137_adaptive_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # persisted: scored feeds the threshold branch AND the gate join —
    # the q120/q121/q134 multi-consumer rule (quality_score is the
    # regex-heavy part; score once, not twice)
    scored = docs.select(
        "source",
        "doc_id",
        T.quality_score("text").cast("decimal(9,6)").alias("q"),
    ).persist()
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    ranked = scored.select(
        "source",
        "q",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    thr = ranked.groupBy("source").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("q"))
        ).alias("thr")
    )
    kept = scored.join(F.broadcast(thr), "source").filter(
        F.col("q") >= F.col("thr")
    )
    return kept.select("source", "doc_id", "q", "thr")


Q137_SQL = (
    """
WITH scored AS (
  SELECT source, doc_id, quality AS q FROM (
"""
    + Q22_SQL.strip()
    + """
  ) qq JOIN documents USING (doc_id)
), ranked AS (
  SELECT source, q,
         row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
), thr AS (
  SELECT source, max(CASE WHEN rn = (n + 3) // 4 THEN q END) AS thr
  FROM ranked GROUP BY source
)
SELECT s.source, s.doc_id, s.q, t.thr
FROM scored s JOIN thr t USING (source)
WHERE s.q >= t.thr
"""
)


# sliding-window quantile sketch (round 4; PARTIAL ORACLE round 5):
# q128's day-sketch pattern applied to QUANTILES — one KLL sketch per
# (type, day) absorbs the raw value stream, the slide explodes
# day-sketches and kll_merge_agg combines each window (p50/p95 per
# trailing week per event type). Round 5 applies the q35 partial-
# oracle split (VERDICT r4 item 4): n_values is EXACT (KLL tracks n
# exactly — the oracle recomputes it as the true window count, so a
# coverage bug on either side hash-fails) and each quantile crosses
# the boundary as a rank-band boolean — the sketch value's exact rank
# inside the true windowed distribution must sit within ±0.05 of the
# target (KLL k=200 guarantees ~±0.0165 w.h.p.; windows smaller than
# k are stored exactly). The discrete two-sided form
# (#<v)/n <= q+eps AND (#<=v)/n >= q-eps tolerates duplicate-mass
# plateaus. Raw quantile VALUES stay out of the projection.

def q138_rolling_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.windows import slide_day_sketches

    ev = load_table(spark, sf, "events")
    # persisted: vals feeds the day-sketch build AND the exact-rank
    # re-walk — the multi-consumer rule
    vals = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("__day"),
        F.col("value").cast("double").alias("v"),
    ).persist()
    daily = vals.groupBy("event_type", "__day").agg(
        F.kll_sketch_agg_double(F.col("v"), F.lit(200)).alias("__sk")
    )
    covered = slide_day_sketches(daily, window_days=7, group_cols=("event_type",))
    merged = covered.groupBy("event_type", "window_day").agg(
        F.kll_merge_agg_double("__sk").alias("__m")
    )
    quant = merged.select(
        "event_type",
        "window_day",
        F.kll_sketch_get_n_double("__m").alias("n_values"),
        F.kll_sketch_get_quantile_double("__m", F.lit(0.5)).alias("__p50"),
        F.kll_sketch_get_quantile_double("__m", F.lit(0.95)).alias("__p95"),
    )
    cov_vals = vals.select(
        "event_type",
        F.explode(
            F.sequence("__day", F.date_add("__day", 6))
        ).alias("window_day"),
        "v",
    )
    joined = cov_vals.join(quant, ["event_type", "window_day"])
    ranks = joined.groupBy("event_type", "window_day").agg(
        F.first("n_values").alias("n_values"),
        F.count("*").alias("__n"),
        F.sum(F.when(F.col("v") < F.col("__p50"), 1).otherwise(0)).alias("__lt50"),
        F.sum(F.when(F.col("v") <= F.col("__p50"), 1).otherwise(0)).alias("__le50"),
        F.sum(F.when(F.col("v") < F.col("__p95"), 1).otherwise(0)).alias("__lt95"),
        F.sum(F.when(F.col("v") <= F.col("__p95"), 1).otherwise(0)).alias("__le95"),
    )
    eps = 0.05
    n_d = F.col("__n").cast("double")

    def _band(lt: str, le: str, q: float):
        return (F.col(lt).cast("double") / n_d <= F.lit(q + eps)) & (
            F.col(le).cast("double") / n_d >= F.lit(q - eps)
        )

    return ranks.select(
        "event_type",
        "window_day",
        "n_values",
        _band("__lt50", "__le50", 0.5).alias("p50_rank_ok"),
        _band("__lt95", "__le95", 0.95).alias("p95_rank_ok"),
    )


Q138_SQL = """
WITH vals AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
), covered AS (
  SELECT event_type, day + CAST(off AS INT) AS window_day, value
  FROM vals, LATERAL (SELECT unnest(generate_series(0, 6)) AS off)
)
SELECT event_type, window_day, CAST(count(*) AS BIGINT) AS n_values,
       TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
FROM covered GROUP BY event_type, window_day
"""


# epoch-plan EXECUTION report (round 4): q124 plans per-source repeat
# factors; this executes them — full_copies = floor(epochs) whole
# passes over the source plus a deterministic md5-bucket sample for
# the fractional remainder (the q89 sampling convention, so the
# fractional pass is reproducible on any cluster) — and reports
# achieved vs planned tokens. Closes the plan→execute loop the way
# q89 closes q77's. The replication itself is one
# explode(sequence(1, full_copies)) at materialization time; this
# report needs only the per-source aggregates, so it runs as one doc
# scan + a sources-sized broadcast plan table.

def q139_epoch_execute(
    spark: SparkSession, sf: str, budget: int = 50_000
) -> DataFrame:
    from ..functions.sampling import hash_bucket
    from ..operators.recipe import plan_epochs

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", T.token_count("text").cast("bigint").alias("toks")
    )
    per = docs.groupBy("source").agg(
        F.sum("toks").alias("avail"), F.count("*").alias("n_docs")
    )
    plan = plan_epochs(per, "avail", budget).select(
        "source",
        "avail",
        "n_docs",
        "epochs",
        F.floor("epochs").alias("full_copies"),
    )
    frac = F.col("epochs") - F.col("full_copies").cast("double")
    plan = plan.withColumn(
        "__thr", F.round(frac * F.lit(100_000)).cast("int")
    )
    extra = (
        docs.join(F.broadcast(plan.select("source", "__thr")), "source")
        .filter(hash_bucket(F.col("doc_id"), 100_000) < F.col("__thr"))
        .groupBy("source")
        .agg(
            F.count("*").alias("extra_docs"),
            F.sum("toks").alias("extra_tokens"),
        )
    )
    zero = F.lit(0).cast("bigint")
    out = plan.join(extra, "source", "left").select(
        "source",
        "avail",
        "epochs",
        "full_copies",
        (
            F.col("full_copies") * F.col("n_docs")
            + F.coalesce("extra_docs", zero)
        ).alias("achieved_docs"),
        (
            F.col("full_copies") * F.col("avail")
            + F.coalesce("extra_tokens", zero)
        ).alias("achieved_tokens"),
    )
    return out


Q139_SQL = r"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS toks
  FROM documents
), per AS (
  SELECT source, sum(toks) AS avail, count(*) AS n_docs
  FROM docs GROUP BY source
), tot AS (
  SELECT sum(avail) AS tot FROM per
), shared AS (
  SELECT source, avail, n_docs,
         CAST(sqrt(CAST(avail AS DOUBLE) / CAST(tot AS DOUBLE))
              AS DECIMAL(18,9)) AS tw
  FROM per CROSS JOIN tot
), norm AS (
  SELECT sum(CAST(tw AS DECIMAL(28,9))) AS z FROM shared
), plan AS (
  SELECT source, avail, n_docs,
         least((50000.0 * (CAST(tw AS DOUBLE) / CAST(z AS DOUBLE)))
               / CAST(avail AS DOUBLE), 4.0) AS epochs,
         CAST(floor(least((50000.0 * (CAST(tw AS DOUBLE) / CAST(z AS DOUBLE)))
               / CAST(avail AS DOUBLE), 4.0)) AS BIGINT) AS full_copies
  FROM shared CROSS JOIN norm
), thr AS (
  SELECT source,
         CAST(round((epochs - CAST(full_copies AS DOUBLE)) * 100000)
              AS INT) AS t
  FROM plan
), extra AS (
  SELECT d.source, count(*) AS extra_docs, sum(d.toks) AS extra_tokens
  FROM docs d JOIN thr ON thr.source = d.source
  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 100000 < thr.t
  GROUP BY d.source
)
SELECT p.source, CAST(p.avail AS BIGINT) AS avail, p.epochs,
       p.full_copies,
       CAST(p.full_copies * p.n_docs + coalesce(e.extra_docs, 0)
            AS BIGINT) AS achieved_docs,
       CAST(p.full_copies * p.avail + coalesce(e.extra_tokens, 0)
            AS BIGINT) AS achieved_tokens
FROM plan p LEFT JOIN extra e USING (source)
"""


# retention cohort matrix (round 5): the classic product-analytics
# rollup — cohort = month of each customer's FIRST order, offset =
# months since cohort, cell = distinct customers active. Month
# arithmetic is exact integers (year*12+month), retention is the one
# double ratio at the end. Scale: first-order table ∝ customers (one
# keyed min), activity grain deduped to (customer, month) before the
# rollup, cohort sizes are a cohorts-sized broadcast.

def q140_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    months = o.select(
        "o_custkey", F.trunc("o_orderdate", "month").alias("act_month")
    ).distinct()
    firsts = months.groupBy("o_custkey").agg(
        F.min("act_month").alias("cohort_month")
    )
    sizes = firsts.groupBy("cohort_month").agg(
        F.count("*").alias("cohort_size")
    )
    cells = (
        months.join(firsts, "o_custkey")
        .select(
            "cohort_month",
            (
                (F.year("act_month") * 12 + F.month("act_month"))
                - (F.year("cohort_month") * 12 + F.month("cohort_month"))
            ).alias("month_offset"),
            "o_custkey",
        )
        .groupBy("cohort_month", "month_offset")
        .agg(F.count("*").alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_month").select(
        "cohort_month",
        "month_offset",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


Q140_SQL = """
WITH months AS (
  SELECT DISTINCT o_custkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS act_month
  FROM orders
), firsts AS (
  SELECT o_custkey, min(act_month) AS cohort_month FROM months GROUP BY o_custkey
), sizes AS (
  SELECT cohort_month, count(*) AS cohort_size FROM firsts GROUP BY cohort_month
), cells AS (
  SELECT f.cohort_month,
         (year(m.act_month) * 12 + month(m.act_month))
           - (year(f.cohort_month) * 12 + month(f.cohort_month)) AS month_offset,
         count(*) AS n_active
  FROM months m JOIN firsts f USING (o_custkey)
  GROUP BY 1, 2
)
SELECT c.cohort_month, CAST(c.month_offset AS INT) AS month_offset,
       CAST(c.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
FROM cells c JOIN sizes s USING (cohort_month)
"""


# gaps-and-islands (round 5): maximal runs of CONSECUTIVE order days
# per priority class — the canonical streak detector (the date-minus-
# row_number trick: inside a run, day - rn is constant). The window
# runs over the DEDUPED (priority, day) grain (|priorities| x |days|,
# bounded), never over raw orders; islands land as one keyed
# aggregation on the constant group key.

def q141_order_islands(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    days = o.select("o_orderpriority", F.col("o_orderdate").alias("day")).distinct()
    w = Window.partitionBy("o_orderpriority").orderBy("day")
    grp = days.withColumn(
        "__grp", F.date_sub("day", F.row_number().over(w))
    )
    return (
        grp.groupBy("o_orderpriority", "__grp")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count("*").cast("bigint").alias("n_days"),
        )
        .drop("__grp")
        .select("o_orderpriority", "start_day", "end_day", "n_days")
    )


Q141_SQL = """
WITH days AS (
  SELECT DISTINCT o_orderpriority, CAST(o_orderdate AS DATE) AS day
  FROM orders
), grp AS (
  SELECT o_orderpriority, day,
         day - CAST(row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY day) AS INT) AS g
  FROM days
)
SELECT o_orderpriority, min(day) AS start_day, max(day) AS end_day,
       CAST(count(*) AS BIGINT) AS n_days
FROM grp GROUP BY o_orderpriority, g
"""


# event-type transition matrix (round 5): per-user Markov transition
# counts — lag(event_type) over (ts, event_id) total order, then one
# keyed count per (prev, next) pair; the row-transition share divides
# inside a |types|^2-row window. The heavy step is the per-user lag,
# partitioned by user_id (millions of independent partitions at scale,
# no global sort).

def q142_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n_trans"))
    )
    w_prev = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        (
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(w_prev).cast("double")
        ).alias("share"),
    )


Q142_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, CAST(n_trans AS BIGINT) AS n_trans,
       CAST(n_trans AS DOUBLE) /
         CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE) AS share
FROM trans
"""


# day-of-week x hour activity heatmap (round 5): the ops-dashboard
# staple. weekday() (Monday=0) == DuckDB isodow-1 — the one
# engine-portable day-number pair (Spark dayofweek() and DuckDB
# dayofweek() disagree on anchoring). One conditional-aggregate pass,
# 168-row output, purchase rate is the single trailing double.

def q143_day_hour_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.expr("weekday(ts)").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_purchases"),
        )
        .select(
            "dow",
            "hour",
            "n_events",
            "n_purchases",
            (
                F.col("n_purchases").cast("double")
                / F.col("n_events").cast("double")
            ).alias("purchase_rate"),
        )
    )


Q143_SQL = """
SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS purchase_rate
FROM events GROUP BY 1, 2
"""


# global quality-nucleus fill (round 5): keep the BEST documents by
# quality score until the selection holds 30% of the corpus's tokens —
# the global "top-p" curation cut (q123 fills per-source quotas; this
# is the corpus-wide ordered selection). The global running sum over
# (quality DESC, doc_id) is recipe.two_phase_running_sum with a
# VALUE-RANGE shard — floor((1-q)*16) is monotone non-increasing in q,
# so shard order is a prefix of the global order and the two-phase
# result is bit-identical to the naive single-partition window the
# oracle runs. No single-partition stage anywhere: 16 shard-local
# cumsums + a 16-row offset table — the explicit form of the range
# exchange Spark's own global sort uses. Threshold arithmetic is exact
# integers ((total*3) div 10).

def q144_global_nucleus_fill(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        T.token_count("text").cast("bigint").alias("n_tok"),
        T.quality_score("text").cast("decimal(9,6)").alias("q"),
    )
    shard = F.least(
        F.greatest(
            F.floor((F.lit(1).cast("decimal(9,6)") - F.col("q")) * 16),
            F.lit(0),
        ),
        F.lit(15),
    ).cast("int")
    cum = two_phase_running_sum(
        staged,
        group_cols=[],
        shard=shard,
        order=[F.desc("q"), F.asc("doc_id")],
        value_col="n_tok",
        out_col="cum_tok",
    )
    tot = staged.agg(F.sum("n_tok").alias("__tot"))
    thr = F.expr("(__tot * 3) div 10")
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_tok") <= thr)
        .select("doc_id", "source", "n_tok", "q", "cum_tok")
    )


Q144_SQL = (
    """
WITH q22 AS (
"""
    + Q22_SQL.strip()
    + """
), staged AS (
  SELECT d.doc_id, d.source, CAST(q22.n_tokens AS BIGINT) AS n_tok,
         q22.quality AS q
  FROM documents d JOIN q22 USING (doc_id)
), tot AS (
  SELECT sum(n_tok) AS t FROM staged
), cum AS (
  SELECT s.*, sum(n_tok) OVER (ORDER BY q DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM staged s
)
SELECT doc_id, source, n_tok, q, CAST(cum_tok AS BIGINT) AS cum_tok
FROM cum CROSS JOIN tot WHERE cum_tok <= (t * 3) // 10
"""
)


# SCD2 history from a CDC changelog (round 5): q83 folds the changelog
# to "the table NOW"; this emits "what was true WHEN" — every change
# becomes a version row with a half-open validity interval
# (valid_from_seq, valid_to_seq, is_current) via cdc.scd2_history: ONE
# lead() window per key, no join. Fixture: q83's deterministic
# changelog (derived from customer) plus the initial snapshot as
# seq-0 inserts, so every key has a full version chain.

def q145_scd2_from_cdc(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.cdc import scd2_history

    c = load_table(spark, sf, "customer")
    snap = c.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    base = snap.withColumn("op", F.lit("I")).withColumn("seq", F.lit(0))
    upd = (
        snap.filter(F.col("cust_key") % 7 == 0)
        .withColumn("acctbal", F.col("acctbal") + F.lit(100.0))
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(2))
    )
    dele = (
        snap.filter(F.col("cust_key") % 11 == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("seq", F.lit(3))
    )
    ins = (
        snap.filter(F.col("cust_key") % 13 == 0)
        .select(
            (F.col("cust_key") + 1_000_000).alias("cust_key"),
            F.concat(F.lit("new "), F.col("name")).alias("name"),
            "segment",
            F.lit(0.0).alias("acctbal"),
        )
        .withColumn("op", F.lit("I"))
        .withColumn("seq", F.lit(1))
    )
    changes = base.unionByName(upd).unionByName(dele).unionByName(ins)
    hist = scd2_history(changes, "cust_key", "seq")
    return hist.select(
        "cust_key",
        F.col("seq").cast("int").alias("seq"),
        "op",
        "name",
        "segment",
        "acctbal",
        F.col("valid_from_seq").cast("int").alias("valid_from_seq"),
        F.col("valid_to_seq").cast("int").alias("valid_to_seq"),
        "is_current",
    )


Q145_SQL = """
WITH snap AS (
  SELECT c_custkey AS cust_key, c_name AS name, c_mktsegment AS segment,
         CAST(c_acctbal AS DOUBLE) AS acctbal
  FROM customer
), changes AS (
  SELECT cust_key, name, segment, acctbal, 'I' AS op, 0 AS seq FROM snap
  UNION ALL
  SELECT cust_key, name, segment, acctbal + 100.0, 'U', 2
  FROM snap WHERE cust_key % 7 = 0
  UNION ALL
  SELECT cust_key, name, segment, acctbal, 'D', 3
  FROM snap WHERE cust_key % 11 = 0
  UNION ALL
  SELECT cust_key + 1000000, 'new ' || name, segment, 0.0, 'I', 1
  FROM snap WHERE cust_key % 13 = 0
)
SELECT cust_key, CAST(seq AS INT) AS seq, op, name, segment, acctbal,
       CAST(seq AS INT) AS valid_from_seq,
       CAST(lead(seq) OVER (PARTITION BY cust_key ORDER BY seq)
            AS INT) AS valid_to_seq,
       (lead(seq) OVER (PARTITION BY cust_key ORDER BY seq) IS NULL
        AND op <> 'D') AS is_current
FROM changes
"""


# bigram collocation mining by LIFT (round 5): the PMI-style
# collocation signal with the log dropped — lift = n_xy·N/(n_x·n_y)
# stays a ratio of EXACT integer counts (libm log is not
# engine-portable; lift orders identically to PMI, so the top-k is the
# same). Positional convention: n_x = occurrences as LEFT of a bigram,
# n_y as RIGHT. Scale: bigram counts shuffle once on the pair key; the
# unigram margins derive from the (much smaller) bigram-count table,
# which is persisted for its three consumers; products ride
# DECIMAL(19,0)->DECIMAL(38,0) so ANSI bigint multiply can't overflow,
# and the single double division happens on two exact operands.

def q146_bigram_lift(spark: SparkSession, sf: str, min_count: int = 5, k: int = 20) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = docs.select(T.tokens("text").alias("t")).filter(F.size("t") >= 2)
    n = F.size("t") - 1
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, n),
                F.slice("t", 2, n),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p")
    )
    # persisted: big feeds the margins (left, right) AND the total AND
    # the final join — the multi-consumer rule
    big = (
        pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.count("*").alias("n_xy"))
        .persist()
    )
    left = big.groupBy("l").agg(F.sum("n_xy").alias("n_x"))
    right = big.groupBy("r").agg(F.sum("n_xy").alias("n_y"))
    tot = big.agg(F.sum("n_xy").alias("N"))
    d19 = "decimal(19,0)"
    lift = (
        (F.col("n_xy").cast(d19) * F.col("N").cast(d19)).cast("double")
        / (F.col("n_x").cast(d19) * F.col("n_y").cast(d19)).cast("double")
    )
    return (
        big.filter(F.col("n_xy") >= min_count)
        .join(left, "l")
        .join(right, "r")
        .crossJoin(F.broadcast(tot))
        .select(
            "l",
            "r",
            F.col("n_xy").cast("bigint").alias("n_xy"),
            F.col("n_x").cast("bigint").alias("n_x"),
            F.col("n_y").cast("bigint").alias("n_y"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "l", "r")
        .limit(k)
    )


Q146_SQL = r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), pairs AS (
  SELECT t[i] AS l, t[i + 1] AS r
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, len(t) - 1)) AS i
  )
  WHERE len(t) >= 2
), big AS (
  SELECT l, r, count(*) AS n_xy FROM pairs GROUP BY l, r
), lft AS (
  SELECT l, sum(n_xy) AS n_x FROM big GROUP BY l
), rgt AS (
  SELECT r, sum(n_xy) AS n_y FROM big GROUP BY r
), tot AS (
  SELECT sum(n_xy) AS N FROM big
)
SELECT b.l, b.r, CAST(b.n_xy AS BIGINT) AS n_xy,
       CAST(lft.n_x AS BIGINT) AS n_x, CAST(rgt.n_y AS BIGINT) AS n_y,
       CAST(CAST(b.n_xy AS DECIMAL(19,0)) * CAST(tot.N AS DECIMAL(19,0))
            AS DOUBLE)
         / CAST(CAST(lft.n_x AS DECIMAL(19,0)) * CAST(rgt.n_y AS DECIMAL(19,0))
            AS DOUBLE) AS lift
FROM big b JOIN lft USING (l) JOIN rgt USING (r) CROSS JOIN tot
WHERE b.n_xy >= 5
ORDER BY lift DESC, l, r LIMIT 20
"""


# signup→purchase conversion latency (round 5): per signup-day cohort,
# how many users converted and the nearest-rank MEDIAN latency in
# whole seconds — funnel timing on exact integers (unix_micros ==
# DuckDB epoch_us; integer `div` for seconds; the q133 nearest-rank
# machinery instead of float percentile interpolation). Scale: both
# firsts tables are one keyed min over a filtered scan; the
# purchase-after-signup join is user-keyed; cohort output ∝ days.

def q147_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    # ts is TIMESTAMP_NTZ: wall-clock micros via timestampdiff from the
    # NTZ epoch literal (the q31/q100 session-tz-proof convention);
    # signup_day derives from the SAME integer by day division, so no
    # tz conversion can ever split the two
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    day_of = lambda c: F.date_add(  # noqa: E731
        F.lit("1970-01-01").cast("date"),
        F.expr(f"CAST({c} div 86400000000 AS INT)"),
    )
    sign = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min(us).alias("s_us")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("p_us")
    )
    conv = (
        pur.join(sign, "user_id")
        .filter(F.col("p_us") >= F.col("s_us"))
        .groupBy("user_id", "s_us")
        .agg(F.min("p_us").alias("p_us"))
        .select(
            "user_id",
            day_of("s_us").alias("signup_day"),
            F.expr("(p_us - s_us) div 1000000").alias("latency_s"),
        )
    )
    w = Window.partitionBy("signup_day").orderBy("latency_s", "user_id")
    ranked = conv.select(
        "signup_day",
        "latency_s",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("signup_day")).alias("n"),
    )
    conv_agg = ranked.groupBy("signup_day").agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("latency_s"))
        ).alias("p50_latency_s"),
    )
    cohorts = sign.groupBy(day_of("s_us").alias("signup_day")).agg(
        F.count("*").cast("bigint").alias("n_signups")
    )
    return cohorts.join(conv_agg, "signup_day", "left").select(
        "signup_day",
        "n_signups",
        F.coalesce("n_converted", F.lit(0).cast("bigint")).alias("n_converted"),
        "p50_latency_s",
    )


Q147_SQL = """
WITH sign AS (
  SELECT user_id, min(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), pur AS (
  SELECT user_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
), conv AS (
  SELECT user_id,
         DATE '1970-01-01' + CAST(s_us // 86400000000 AS INT) AS signup_day,
         (min(p_us) - s_us) // 1000000 AS latency_s
  FROM pur JOIN sign USING (user_id)
  WHERE p_us >= s_us
  GROUP BY user_id, s_us
), ranked AS (
  SELECT signup_day, latency_s,
         row_number() OVER (PARTITION BY signup_day
                            ORDER BY latency_s, user_id) AS rn,
         count(*) OVER (PARTITION BY signup_day) AS n
  FROM conv
), conv_agg AS (
  SELECT signup_day, CAST(max(n) AS BIGINT) AS n_converted,
         max(CASE WHEN rn = (n + 1) // 2 THEN latency_s END) AS p50_latency_s
  FROM ranked GROUP BY signup_day
), cohorts AS (
  SELECT DATE '1970-01-01' + CAST(s_us // 86400000000 AS INT) AS signup_day,
         CAST(count(*) AS BIGINT) AS n_signups
  FROM sign GROUP BY 1
)
SELECT c.signup_day, c.n_signups,
       CAST(coalesce(a.n_converted, 0) AS BIGINT) AS n_converted,
       CAST(a.p50_latency_s AS BIGINT) AS p50_latency_s
FROM cohorts c LEFT JOIN conv_agg a USING (signup_day)
"""


# robust outliers by median absolute deviation (round 5): the
# z-score's robust sibling (q84 is the mean/std tier) — per priority
# class, median order value and MAD both via the q133 integer
# nearest-rank machinery on EXACT cents, outliers = deviation > 3·MAD.
# Two window rounds over the priority partition plus one broadcast of
# the priorities-sized stats table; zero float interpolation anywhere.

def q148_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cents = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w1 = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    r1 = cents.select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        F.row_number().over(w1).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    med = r1.groupBy("o_orderpriority").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents"))
        ).alias("med_cents")
    )
    dev = cents.join(F.broadcast(med), "o_orderpriority").withColumn(
        "dev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy("dev", "o_orderkey")
    r2 = dev.select(
        "o_orderpriority",
        "dev",
        F.row_number().over(w2).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    mad = r2.groupBy("o_orderpriority").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dev"))
        ).alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .filter(F.col("dev") > 3 * F.col("mad_cents"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "cents",
            "med_cents",
            "mad_cents",
        )
    )


Q148_SQL = """
WITH cents AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), r1 AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY cents, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM cents
), med AS (
  SELECT o_orderpriority,
         max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med_cents
  FROM r1 GROUP BY o_orderpriority
), dev AS (
  SELECT c.*, m.med_cents, abs(c.cents - m.med_cents) AS dev
  FROM cents c JOIN med m USING (o_orderpriority)
), r2 AS (
  SELECT o_orderpriority, dev,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY dev, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM dev
), mad AS (
  SELECT o_orderpriority,
         max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad_cents
  FROM r2 GROUP BY o_orderpriority
)
SELECT d.o_orderkey, d.o_orderpriority, d.cents, d.med_cents, a.mad_cents
FROM dev d JOIN mad a USING (o_orderpriority)
WHERE d.dev > 3 * a.mad_cents
"""


# 2-D pareto skyline (round 5): per brand, the non-dominated
# (cheaper-price, larger-size) frontier over DISTINCT value pairs —
# computed with the sort-and-running-max trick (order by price ASC,
# size DESC: a pair is on the frontier iff its size strictly exceeds
# every preceding size), which turns the quadratic dominance test into
# ONE window pass over the deduped pair grain. Exact integer cents.

def q149_brand_skyline(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    pairs = (
        p.select(
            "p_brand",
            (F.col("p_retailprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("price_cents"),
            F.col("p_size").cast("int").alias("size"),
        )
        .groupBy("p_brand", "price_cents", "size")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.asc("price_cents"), F.desc("size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = pairs.withColumn("__max_before", F.max("size").over(w))
    return flagged.filter(
        F.col("__max_before").isNull() | (F.col("__max_before") < F.col("size"))
    ).select("p_brand", "price_cents", "size", "n_parts")


Q149_SQL = """
WITH pairs AS (
  SELECT p_brand,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_cents,
         CAST(p_size AS INT) AS size,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2, 3
), flagged AS (
  SELECT *, max(size) OVER (PARTITION BY p_brand
                            ORDER BY price_cents ASC, size DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS max_before
  FROM pairs
)
SELECT p_brand, price_cents, size, n_parts
FROM flagged WHERE max_before IS NULL OR max_before < size
"""


# survivorship merge (round 5): the MDM golden-record rule — per key,
# each column independently takes its LATEST NON-NULL value across
# versions (a column update must not resurrect another column's stale
# value, and a NULL must not erase history). Engine-portable arg-max:
# max over non-null rows of lpad(seq)||value — the fixed-width seq
# prefix decides the max (seqs are unique per key), substr peels the
# value back out; numerics ride as digit strings and cast back exact.
# One groupBy per key, every column map-side combinable. Fixture:
# three deterministic versions per customer with disjoint null masks.

def q150_survivorship_merge(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    base = c.select(
        F.col("c_custkey").alias("k"),
        "c_name",
        "c_mktsegment",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    v1 = base.select(
        "k",
        F.lit(1).alias("seq"),
        F.col("c_name").alias("name"),
        F.when(F.col("k") % 3 != 0, F.col("c_mktsegment")).alias("segment"),
        F.col("cents").alias("acct_cents"),
    )
    v2 = base.select(
        "k",
        F.lit(2).alias("seq"),
        F.when(F.col("k") % 2 != 0, F.upper("c_name")).alias("name"),
        F.when(F.col("k") % 5 == 0, F.col("c_mktsegment")).alias("segment"),
        F.when(F.col("k") % 7 != 0, F.col("cents") + 100).alias("acct_cents"),
    )
    v3 = base.filter(F.col("k") % 4 == 0).select(
        "k",
        F.lit(3).alias("seq"),
        F.lit(None).cast("string").alias("name"),
        F.lit("VIP").alias("segment"),
        F.lit(None).cast("bigint").alias("acct_cents"),
    )
    versions = v1.unionByName(v2).unionByName(v3)

    def latest(col: str) -> Column:
        tagged = F.when(
            F.col(col).isNotNull(),
            F.concat(
                F.lpad(F.col("seq").cast("string"), 3, "0"),
                F.col(col).cast("string"),
            ),
        )
        return F.substring(F.max(tagged), 4, 1_000_000)

    return versions.groupBy(F.col("k").alias("cust_key")).agg(
        latest("name").alias("name"),
        latest("segment").alias("segment"),
        latest("acct_cents").cast("bigint").alias("acct_cents"),
        F.count("*").cast("bigint").alias("n_versions"),
        F.max("seq").cast("int").alias("last_seq"),
    )


Q150_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_name, c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
), versions AS (
  SELECT k, 1 AS seq, c_name AS name,
         CASE WHEN k % 3 <> 0 THEN c_mktsegment END AS segment,
         cents AS acct_cents
  FROM base
  UNION ALL
  SELECT k, 2, CASE WHEN k % 2 <> 0 THEN upper(c_name) END,
         CASE WHEN k % 5 = 0 THEN c_mktsegment END,
         CASE WHEN k % 7 <> 0 THEN cents + 100 END
  FROM base
  UNION ALL
  SELECT k, 3, NULL, 'VIP', NULL FROM base WHERE k % 4 = 0
)
SELECT k AS cust_key,
       substr(max(CASE WHEN name IS NOT NULL
                       THEN lpad(CAST(seq AS VARCHAR), 3, '0') || name END),
              4) AS name,
       substr(max(CASE WHEN segment IS NOT NULL
                       THEN lpad(CAST(seq AS VARCHAR), 3, '0') || segment END),
              4) AS segment,
       CAST(substr(max(CASE WHEN acct_cents IS NOT NULL
                            THEN lpad(CAST(seq AS VARCHAR), 3, '0')
                                 || CAST(acct_cents AS VARCHAR) END),
                   4) AS BIGINT) AS acct_cents,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(max(seq) AS INT) AS last_seq
FROM versions GROUP BY k
"""


# cross-region revenue correlation (round 5): Pearson r between every
# region pair's daily revenue series — never corr()/stddev_samp()
# (partition-order-dependent double accumulation); instead the q84
# discipline at pair grain: exact integer/decimal sums (n, Σx, Σy,
# Σxy, Σx², Σy² — squares ride DECIMAL(19,0)→DECIMAL(38,0) so nothing
# overflows), then ONE identical double expression on both engines
# (+,-,×,÷,sqrt are IEEE exact-rounded: equal inputs, bit-equal r).
# Scale: daily-revenue table ∝ |regions|·days, the pair self-join is
# on the day key, output is |regions| choose 2.

def q151_revenue_correlation(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    # customer is the one genuinely large side-table here (≫ broadcast
    # threshold at 100 TB) — leave it a hashed join for AQE to re-plan;
    # nation/region are constant-sized and broadcast explicitly (q90's
    # convention)
    daily = (
        o.join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            ).alias("rev")
        )
    )
    # persisted: daily feeds both sides of the pair self-join
    daily = daily.persist()
    a = daily.select(
        F.col("region").alias("region_a"), "day", F.col("rev").alias("x")
    )
    b = daily.select(
        F.col("region").alias("region_b"), "day", F.col("rev").alias("y")
    )
    d19 = "decimal(19,0)"
    pairs = a.join(b, "day").filter(F.col("region_a") < F.col("region_b"))
    sums = pairs.groupBy("region_a", "region_b").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d19) * F.col("y").cast(d19)).alias("sxy"),
        F.sum(F.col("x").cast(d19) * F.col("x").cast(d19)).alias("sxx"),
        F.sum(F.col("y").cast(d19) * F.col("y").cast(d19)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    denom = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    corr = (nd * sxy - sx * sy) / F.nullif(denom, F.lit(0.0))
    return sums.select(
        "region_a",
        "region_b",
        F.col("n").cast("bigint").alias("n_days"),
        corr.alias("corr"),
    )


Q151_SQL = """
WITH daily AS (
  SELECT r.r_name AS region, CAST(o.o_orderdate AS DATE) AS day,
         sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.region AS region_a, b.region AS region_b, a.rev AS x, b.rev AS y
  FROM daily a JOIN daily b USING (day)
  WHERE a.region < b.region
), sums AS (
  SELECT region_a, region_b, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT region_a, region_b, CAST(n AS BIGINT) AS n_days,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / nullif(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                  0.0) AS corr
FROM sums
"""


# prefix-duplicate groups (round 5): crawl pipelines produce TRUNCATED
# copies — same opening, different lengths — which full-text
# fingerprints (q19) and even 3-gram Jaccard can miss when the long
# doc dwarfs the shared prefix. Group by the md5 of the first 20
# tokens; groups with >1 doc are truncation suspects, and the KEEP
# policy is arg-max length (lowest id tie-break) via one
# min(struct(-len, id)) — the q122 canonical-selection shape, no
# window over the group. One narrow groupBy; fingerprint is 16 bytes
# through the shuffle regardless of document size.

def q152_prefix_duplicates(spark: SparkSession, sf: str, k: int = 20) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        T.tokens("text").alias("t"),
    ).select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tok"),
        F.md5(F.array_join(F.slice("t", 1, k), " ")).alias("prefix_fp"),
    )
    best = F.min(
        F.struct((-F.col("n_tok")).alias("neg_len"), F.col("doc_id").alias("id"))
    )
    groups = staged.groupBy("prefix_fp").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        best["id"].alias("canon_id"),
    )
    return groups.filter(F.col("n_docs") >= 2).select(
        "prefix_fp", "n_docs", "min_tok", "max_tok", "canon_id"
    )


Q152_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t
  FROM documents
), staged AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
         md5(array_to_string(t[1:20], ' ')) AS prefix_fp
  FROM toks
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY prefix_fp
                               ORDER BY n_tok DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY prefix_fp) AS n_docs,
         min(n_tok) OVER (PARTITION BY prefix_fp) AS min_tok,
         max(n_tok) OVER (PARTITION BY prefix_fp) AS max_tok
  FROM staged
)
SELECT prefix_fp, CAST(n_docs AS BIGINT) AS n_docs, min_tok, max_tok,
       doc_id AS canon_id
FROM ranked WHERE rn = 1 AND n_docs >= 2
"""


# language-mismatch audit (round 5): the metadata-trust report — per
# (source, declared lang), how often the q21 stopword detector
# DISAGREES with the declared label (a high rate flags a feed whose
# metadata is wrong or whose content is mixed; CCNet filters on
# exactly this signal). Reuses q21's detector verbatim on both sides;
# one conditional-agg pass, sources x langs output.

def q153_lang_mismatch_audit(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "source",
        F.col("lang").alias("lang_declared"),
        (T.lang_id("text") != F.col("lang")).cast("int").alias("mism"),
    )
    return scored.groupBy("source", "lang_declared").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("mism").cast("bigint").alias("n_mismatch"),
        (
            F.sum("mism").cast("double") / F.count("*").cast("double")
        ).alias("mismatch_rate"),
    )


def _q153_oracle_sql() -> str:
    """Wrap Q21's detector, join back to source, aggregate."""
    return (
        """
WITH pred AS (
"""
        + Q21_SQL.strip()
        + """
), scored AS (
  SELECT d.source, p.lang_declared,
         CASE WHEN p.lang_pred <> p.lang_declared THEN 1 ELSE 0 END AS mism
  FROM documents d JOIN pred p USING (doc_id)
)
SELECT source, lang_declared, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(mism) AS BIGINT) AS n_mismatch,
       CAST(sum(mism) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mismatch_rate
FROM scored GROUP BY source, lang_declared
"""
    )


Q153_SQL = _q153_oracle_sql()


# MinHash-tier recall evaluation (round 5): q136's index-quality gate,
# dedup edition — does the LSH tier (q26's 64-hash/16-band config,
# S-curve threshold ≈0.5) actually FIND the pairs the exact tier
# (q20's machinery at Jaccard ≥ 0.5) proves exist? The q35 partial-
# oracle split: each exact pair row (ids + exact Jaccard, recomputed
# end-to-end by the oracle's inverted-index SQL) is hash-compared, and
# the LSH side crosses as ONE aggregate band boolean the oracle
# asserts TRUE — candidate-set recall ≥ 0.6 (measured 0.96–1.0; the
# floor sits just under the b=16/r=4 S-curve's worst case of 64% at
# exactly j=0.5, so the band survives even a fixture regeneration
# whose pairs all land on the threshold, while still asserting the
# tier actually finds most true pairs).
# This moves the approximate dedup stack's core claim INTO the driver
# gate instead of pytest only.

def q154_minhash_recall(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    exact = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("doc_a", "doc_b", "jaccard").persist()
    cand = DD.minhash_lsh_candidates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16
    ).select("doc_a", "doc_b")
    found = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    recall_ok = exact.agg(F.count("*").alias("__ne")).crossJoin(
        found.agg(F.count("*").alias("__nf"))
    ).select(
        (
            F.col("__nf").cast("double") / F.col("__ne").cast("double")
            >= F.lit(0.6)
        ).alias("lsh_recall_ok")
    )
    return exact.crossJoin(F.broadcast(recall_ok)).select(
        "doc_a", "doc_b", "jaccard", "lsh_recall_ok"
    )


def _q154_oracle_sql() -> str:
    """Q20's inverted-index skeleton re-thresholded to 0.5 + TRUE band."""
    inner = Q20_SQL.strip().replace(">= 0.2", ">= 0.5")
    return (
        """
WITH exact AS (
"""
        + inner
        + """
)
SELECT doc_a, doc_b, jaccard, TRUE AS lsh_recall_ok FROM exact
"""
    )


Q154_SQL = _q154_oracle_sql()


# deterministic training-order manifest (round 5): the reproducible
# "data order" file a trainer consumes — every document gets a global
# STEP index such that sources interleave proportionally to size
# (virtual-time scheduling: doc #r of source s runs at v = r·1e6 div
# n_s; sorting by v round-robins sources weighted by |s|) and the
# order is identical on any cluster (md5 hash order, no RNG). Both
# rank stages are recipe.two_phase_running_sum of 1s — the per-source
# rank shards on the hash's hex prefix, the GLOBAL step rank shards on
# v's value range — so the whole manifest materializes with no
# single-partition window anywhere; the oracle runs the naive global
# windows and must agree bit-for-bit.

def q155_interleave_order(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import hash_order_cumsum, two_phase_running_sum

    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        F.lit(1).alias("one"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    ranked = hash_order_cumsum(staged, value_col="one", out_col="r_in_source")
    sizes = ranked.groupBy("source").agg(F.count("*").alias("n_s"))
    timed = ranked.join(F.broadcast(sizes), "source").withColumn(
        "v", F.expr("(r_in_source * 1000000) div n_s")
    )
    stepped = two_phase_running_sum(
        timed,
        group_cols=[],
        shard=F.expr("CAST(v div 62500 AS INT)"),
        order=[F.asc("v"), F.asc("source"), F.asc("doc_id")],
        value_col="one",
        out_col="step",
    )
    return stepped.select(
        "doc_id",
        "source",
        F.col("r_in_source").cast("bigint").alias("r_in_source"),
        F.col("v").cast("bigint").alias("v"),
        F.col("step").cast("bigint").alias("step"),
    )


Q155_SQL = """
WITH staged AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
), ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
           AS r_in_source
  FROM staged
), sizes AS (
  SELECT source, count(*) AS n_s FROM ranked GROUP BY source
), timed AS (
  SELECT r.doc_id, r.source, r.r_in_source,
         (r.r_in_source * 1000000) // s.n_s AS v
  FROM ranked r JOIN sizes s USING (source)
)
SELECT doc_id, source, CAST(r_in_source AS BIGINT) AS r_in_source,
       CAST(v AS BIGINT) AS v,
       CAST(row_number() OVER (ORDER BY v, source, doc_id) AS BIGINT) AS step
FROM timed
"""


# corpus snapshot diff (round 5): the release-engineering report —
# what changed between the previous corpus snapshot and this one, per
# source: doc/token counts both sides, deltas, and percent token
# change (the one trailing double, from two exact integer operands).
# Same old/new split convention as q107/q108/q125 (doc_id % 5 < 3 is
# the existing snapshot). One conditional-aggregate pass over the doc
# scan; output ∝ sources. A feed whose token mass swings hard between
# releases is either growing fast or broken — this is the report that
# tells you which feeds to look at before retraining.

def q156_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "source",
        (F.col("doc_id") % 5 < 3).alias("is_old"),
        T.token_count("text").cast("bigint").alias("n_tok"),
    )
    agg = staged.groupBy("source").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).cast("bigint").alias("docs_old"),
        F.sum(F.when(~F.col("is_old"), 1).otherwise(0)).cast("bigint").alias("docs_new"),
        F.sum(F.when(F.col("is_old"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tok_old"),
        F.sum(F.when(~F.col("is_old"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tok_new"),
    )
    return agg.select(
        "source",
        "docs_old",
        "docs_new",
        (F.col("docs_new") - F.col("docs_old")).alias("doc_delta"),
        "tok_old",
        "tok_new",
        (F.col("tok_new") - F.col("tok_old")).alias("tok_delta"),
        (
            (F.col("tok_new") - F.col("tok_old")).cast("double")
            / F.nullif(F.col("tok_old"), F.lit(0)).cast("double")
        ).alias("tok_pct_change"),
    )


Q156_SQL = r"""
WITH staged AS (
  SELECT source, (doc_id % 5 < 3) AS is_old,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
), agg AS (
  SELECT source,
         CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS docs_old,
         CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS docs_new,
         CAST(sum(CASE WHEN is_old THEN n_tok ELSE 0 END) AS BIGINT) AS tok_old,
         CAST(sum(CASE WHEN is_old THEN 0 ELSE n_tok END) AS BIGINT) AS tok_new
  FROM staged GROUP BY source
)
SELECT source, docs_old, docs_new,
       CAST(docs_new - docs_old AS BIGINT) AS doc_delta,
       tok_old, tok_new,
       CAST(tok_new - tok_old AS BIGINT) AS tok_delta,
       CAST(tok_new - tok_old AS DOUBLE)
         / CAST(nullif(tok_old, 0) AS DOUBLE) AS tok_pct_change
FROM agg
"""


# winsorized (trimmed) mean (round 5): the robust-stats family's third
# member — q84 is mean/std, q148 is median/MAD; this is the trimmed
# mean ops dashboards actually quote (drop the top and bottom 10% by
# EXACT nearest-rank position, average the middle 80%). Rank cuts are
# integers ((n+9) div 10 .. n - (n+9) div 10), the mid-mass sum is an
# exact bigint, and the mean is one trailing double division — no
# percentile interpolation anywhere. One rank window + one
# conditional-agg per group.

def q157_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cents = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    ranked = cents.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    cut = F.expr("(n + 9) div 10")
    mid = F.col("rn") > cut
    mid = mid & (F.col("rn") <= F.col("n") - cut)
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.when(mid, 1).otherwise(0)).cast("bigint").alias("n_mid"),
        F.sum(F.when(mid, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("mid_sum_cents"),
        (
            F.sum(F.when(mid, F.col("cents")).otherwise(0)).cast("double")
            / F.sum(F.when(mid, 1).otherwise(0)).cast("double")
        ).alias("trimmed_mean_cents"),
    )


Q157_SQL = """
WITH cents AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), ranked AS (
  SELECT o_orderpriority, cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM cents
), flagged AS (
  SELECT *, (rn > (n + 9) // 10 AND rn <= n - (n + 9) // 10) AS mid
  FROM ranked
)
SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
       CAST(sum(CASE WHEN mid THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
       CAST(sum(CASE WHEN mid THEN cents ELSE 0 END) AS BIGINT)
         AS mid_sum_cents,
       CAST(sum(CASE WHEN mid THEN cents ELSE 0 END) AS DOUBLE)
         / CAST(sum(CASE WHEN mid THEN 1 ELSE 0 END) AS DOUBLE)
         AS trimmed_mean_cents
FROM flagged GROUP BY o_orderpriority
"""


# dedup-cluster quality report (round 5): the review-queue summary a
# curation team reads before trusting transitive dedup — per q49
# component: member count, observed edge count, and the weakest and
# average edge similarity. A big cluster held together by few weak
# edges is a chaining artifact (two unrelated groups bridged by one
# borderline pair), the failure mode transitive closure is known for;
# min_jaccard surfaces it. Composes q49's components with q20's exact
# pair machinery (both already green); pairs are persisted for their
# two consumers; avg rides an exact DECIMAL(28,6) sum with one
# trailing double division.

def q158_cluster_quality(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf, "documents")
    pairs = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3
    ).persist()
    comp = dedup_clusters(pairs.select("doc_a", "doc_b"))
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    edges = pairs.join(
        comp.select(F.col("doc_id").alias("doc_a"), "component_id"), "doc_a"
    )
    stats = edges.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.min("jaccard").alias("min_jaccard"),
        (
            F.sum(F.col("jaccard").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_jaccard"),
    )
    return stats.join(F.broadcast(sizes), "component_id").select(
        "component_id", "n_members", "n_edges", "min_jaccard", "avg_jaccard"
    )


def _q158_oracle_sql() -> str:
    """Q49's recursive-component skeleton + the q20 pair grain at the
    same 0.3 threshold, aggregated per component."""
    comp = Q49_SQL.strip().rsplit("SELECT node", 1)[0].rstrip()
    pairs = Q20_SQL.strip().replace(">= 0.2", ">= 0.3")
    return (
        comp
        + """, comp AS (
  SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node
), qpairs AS (
  SELECT * FROM (
"""
        + pairs
        + """
  )
), csizes AS (
  SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id
), edges2 AS (
  SELECT c.component_id, p.jaccard
  FROM qpairs p JOIN comp c ON c.doc_id = p.doc_a
)
SELECT e.component_id, CAST(s.n_members AS BIGINT) AS n_members,
       CAST(count(*) AS BIGINT) AS n_edges,
       min(e.jaccard) AS min_jaccard,
       CAST(sum(CAST(e.jaccard AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_jaccard
FROM edges2 e JOIN csizes s USING (component_id)
GROUP BY e.component_id, s.n_members
"""
    )


Q158_SQL = _q158_oracle_sql()


# least-squares revenue trend (round 5): slope + intercept of each
# region's daily revenue over time by the normal equations — q151's
# portable-exactness recipe applied to regression: x = integer day
# index (days since epoch), y = exact cents, all five sums exact
# integers/decimals, then slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) as ONE
# identical double expression on both engines. Never ML-lib's SGD or
# a float accumulation — closed form on exact sums is deterministic,
# one aggregation pass, |regions| output rows.

def _region_daily_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """(region, x, y): per-region daily revenue series with x = integer
    day index (days since epoch) and y = exact order-total cents —
    shared by q159 (trend fit) and q165 (residual outliers)."""
    o = _ord(spark, sf)
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    return (
        o.join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
                "x"
            ),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("y")
        )
    )


def _trend_sums(daily: DataFrame) -> DataFrame:
    """Normal-equation sums per region over a (region, x, y) series."""
    d19 = "decimal(19,0)"
    return daily.groupBy("region").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d19) * F.col("y").cast(d19)).alias("sxy"),
        F.sum(F.col("x").cast(d19) * F.col("x").cast(d19)).alias("sxx"),
    )


def _slope_col() -> Column:
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return (nd * sxy - sx * sy) / F.nullif(nd * sxx - sx * sx, F.lit(0.0))


def q159_revenue_trend(spark: SparkSession, sf: str) -> DataFrame:
    sums = _trend_sums(_region_daily_revenue(spark, sf))
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    slope = _slope_col()
    return sums.select(
        "region",
        F.col("n").cast("bigint").alias("n_days"),
        slope.alias("slope_cents_per_day"),
        ((F.col("sy").cast("double") - slope * sx) / nd).alias(
            "intercept_cents"
        ),
    )


#: shared oracle fragments for the normal-equation fit (q159, q165)
_TREND_DAILY_SQL = """
  SELECT r.r_name AS region,
         datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS x,
         sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
"""
_TREND_SUMS_SQL = """
  SELECT region, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx
  FROM daily GROUP BY region
"""
_SLOPE_SQL = """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)"""
_INTERCEPT_SQL = f"""(CAST(sy AS DOUBLE)
          - ({_SLOPE_SQL})
            * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE)"""

Q159_SQL = f"""
WITH daily AS ({_TREND_DAILY_SQL}), sums AS ({_TREND_SUMS_SQL})
SELECT region, CAST(n AS BIGINT) AS n_days,
       {_SLOPE_SQL}
         AS slope_cents_per_day,
       {_INTERCEPT_SQL} AS intercept_cents
FROM sums
"""


# generic column profiler (round 5): the schema-agnostic "profile
# table" every pipeline publishes next to a load — per column: rows,
# nulls, exact distinct count, lexicographic min/max in string space.
# Complements q12 (rule-based QA counters): q12 checks KNOWN
# invariants, this is the first-look census for a table nobody has
# rules for yet. One pass per column over a narrow projection (column
# pruning makes each sub-aggregate a single-column scan); doubles are
# deliberately excluded from the profiled set — engine float
# FORMATTING differs even when values agree, so a string min/max over
# doubles would hash-split (int/string/date stringify identically).

def q160_column_profile(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
    ]
    parts = []
    for c in cols:
        sc = F.col(c).cast("string")
        parts.append(
            o.select(sc.alias("v")).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_null"),
                F.count_distinct(F.col("v")).cast("bigint").alias("n_distinct"),
                F.min("v").alias("min_str"),
                F.max("v").alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q160_col_sql(name: str, expr: str) -> str:
    return f"""
  SELECT '{name}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
         min(v) AS min_str, max(v) AS max_str
  FROM (SELECT CAST({expr} AS VARCHAR) AS v FROM orders)"""


Q160_SQL = (
    "\nUNION ALL\n".join(
        _q160_col_sql(name, expr)
        for name, expr in [
            ("o_orderkey", "o_orderkey"),
            ("o_custkey", "o_custkey"),
            ("o_orderstatus", "o_orderstatus"),
            ("o_orderpriority", "o_orderpriority"),
            ("o_orderdate", "CAST(o_orderdate AS DATE)"),
        ]
    )
)


# referential-integrity audit (round 5): orphan counts for every FK
# edge of the star — the constraint checker a lake without enforced
# constraints must RUN instead of declare (the reference's T-SQL got
# this from the engine; Spark pipelines audit it). Each edge is one
# left-anti count on the join key — the same LeftAnti shape as q15 —
# plus the child row count; output is one row per relationship.

def q161_fk_integrity(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    o = _ord(spark, sf)
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    p = load_table(spark, sf, "part")
    s = load_table(spark, sf, "supplier")
    edges = [
        ("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        ("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        ("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey"),
        ("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        ("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        ("supplier.s_nationkey->nation", s, "s_nationkey", n, "n_nationkey"),
        ("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in edges:
        orphans = child.join(
            parent, child[ck] == parent[pk], "left_anti"
        )
        parts.append(
            child.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_orphans")
                )
            )
            .select(F.lit(name).alias("fk"), "n_child", "n_orphans")
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


def _q161_edge_sql(name: str, child: str, ck: str, parent: str, pk: str) -> str:
    return f"""
  SELECT '{name}' AS fk,
         CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
         CAST((SELECT count(*) FROM {child} ch
               WHERE NOT EXISTS (SELECT 1 FROM {parent} pa
                                 WHERE pa.{pk} = ch.{ck})) AS BIGINT)
           AS n_orphans"""


Q161_SQL = "\nUNION ALL\n".join(
    _q161_edge_sql(*e)
    for e in [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
)


# association rules (round 5): directional market-basket rules A→B over
# co-purchased parts — support / confidence / lift from EXACT integer
# counts (pair counts, item margins, basket total), each metric ONE
# identical double expression on both engines. The pair self-join is
# q41's shape (per-order, bounded basket sizes keep it O(Σk²) not
# O(n²)); margins are a part-dimension-sized table joined on key (AQE
# broadcasts at small SF, shuffle-joins when parts outgrow the hint);
# the basket total rides in as a one-row cross join (grand-total
# convention). min-support pruning (n_both >= 2) happens BEFORE the
# margin joins so the rule table, not the pair table, is what shuffles.

def q162_association_rules(
    spark: SparkSession, sf: str, min_both: int = 2
) -> DataFrame:
    # persisted: op feeds the total, the margins and the pair self-join
    op = _li(spark, sf).select("l_orderkey", "l_partkey").distinct().persist()
    tot = op.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    items = op.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_item")
    )
    a, b = op.alias("a"), op.alias("b")
    both = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("antecedent"),
            F.col("b.l_partkey").alias("consequent"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= min_both)
    )
    ante = items.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_ante")
    )
    cons = items.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_cons")
    )
    j = both.join(ante, "antecedent").join(cons, "consequent").crossJoin(tot)
    nb = F.col("n_both").cast("double")
    na = F.col("n_ante").cast("double")
    nc = F.col("n_cons").cast("double")
    nn = F.col("n_orders").cast("double")
    return j.select(
        "antecedent",
        "consequent",
        "n_both",
        "n_ante",
        "n_cons",
        "n_orders",
        (nb / nn).alias("support"),
        (nb / na).alias("confidence"),
        ((nb * nn) / (na * nc)).alias("lift"),
    )


Q162_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op),
items AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM op GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
         CAST(count(*) AS BIGINT) AS n_both
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT antecedent, consequent, n_both,
       ia.n_item AS n_ante, ic.n_item AS n_cons, t.n_orders,
       CAST(n_both AS DOUBLE) / CAST(t.n_orders AS DOUBLE) AS support,
       CAST(n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
       (CAST(n_both AS DOUBLE) * CAST(t.n_orders AS DOUBLE))
         / (CAST(ia.n_item AS DOUBLE) * CAST(ic.n_item AS DOUBLE)) AS lift
FROM pairs
JOIN items ia ON pairs.antecedent = ia.l_partkey
JOIN items ic ON pairs.consequent = ic.l_partkey
CROSS JOIN tot t
"""


# RFM segmentation (round 5): the classic recency/frequency/monetary
# customer scoring — quintile scores (5 = best) via ntile with explicit
# tie-breaks, segment code r·100+f·10+m, rolled up to the ~125 segment
# grain. Windows rank the CUSTOMER grain (already aggregated, orders of
# magnitude under the fact grain); the 100 TB path for a customer table
# that itself outgrows one task is the q155 two-phase rank shard —
# noted, not needed at the dimension grain.

def q163_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    per = o.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count("*").cast("bigint").alias("freq"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("monetary"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor_dt"))
    rfm = per.crossJoin(anchor).withColumn(
        "recency", F.datediff("anchor_dt", "last_dt")
    )
    r_s = F.ntile(5).over(Window.orderBy(F.col("recency").desc(), "cust_key"))
    f_s = F.ntile(5).over(Window.orderBy(F.col("freq").asc(), "cust_key"))
    m_s = F.ntile(5).over(Window.orderBy(F.col("monetary").asc(), "cust_key"))
    scored = rfm.select(
        "cust_key",
        "recency",
        "monetary",
        r_s.alias("r_score"),
        f_s.alias("f_score"),
        m_s.alias("m_score"),
    )
    seg = (
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
    ).cast("int")
    return scored.groupBy(seg.alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("monetary").alias("sum_cents"),
        (F.sum("recency").cast("double") / F.count("*").cast("double")).alias(
            "avg_recency_days"
        ),
    )


Q163_SQL = """
WITH per AS (
  SELECT o_custkey AS cust_key, max(CAST(o_orderdate AS DATE)) AS last_dt,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS monetary
  FROM orders GROUP BY 1
), anc AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor_dt FROM orders),
rfm AS (
  SELECT cust_key, datediff('day', last_dt, anchor_dt) AS recency,
         freq, monetary
  FROM per CROSS JOIN anc
), scored AS (
  SELECT cust_key, recency, monetary,
         CAST(ntile(5) OVER (ORDER BY recency DESC, cust_key) AS INT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY freq ASC, cust_key) AS INT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary ASC, cust_key) AS INT) AS m_score
  FROM rfm
)
SELECT CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary) AS BIGINT) AS sum_cents,
       CAST(sum(recency) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS avg_recency_days
FROM scored GROUP BY 1
"""


# numeric two-sample drift (round 5): Welch's t between the old and new
# snapshot halves (q156's doc_id%5 split convention) of each source's
# n_chars distribution — the NUMERIC companion of q97's categorical
# chi-square drift test. One conditional-agg pass collects exact
# n/Σx/Σx² per half (squares in DECIMAL so ANSI can't overflow); means,
# variances and the t statistic are then IDENTICAL double expression
# trees over those exact operands on both engines (sqrt is
# IEEE-portable; no libm log/pow anywhere).

def q164_numeric_drift(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    old = F.col("doc_id") % 5 < 3
    x = F.col("n_chars")
    x2 = x.cast("decimal(19,0)") * x.cast("decimal(19,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    agg = docs.groupBy("source").agg(
        F.sum(F.when(old, 1).otherwise(0)).cast("bigint").alias("n_old"),
        F.sum(F.when(old, x).otherwise(0)).cast("bigint").alias("s_old"),
        F.sum(F.when(old, x2).otherwise(zero)).alias("q_old"),
        F.sum(F.when(~old, 1).otherwise(0)).cast("bigint").alias("n_new"),
        F.sum(F.when(~old, x).otherwise(0)).cast("bigint").alias("s_new"),
        F.sum(F.when(~old, x2).otherwise(zero)).alias("q_new"),
    )

    def mean_var(n: str, s: str, q: str) -> tuple[Column, Column]:
        nd = F.col(n).cast("double")
        sd = F.col(s).cast("double")
        qd = F.col(q).cast("double")
        # nullif guards: Spark ANSI throws on double/0 while DuckDB
        # yields NULL — nullif makes both engines yield NULL (n <= 1)
        return sd / F.nullif(nd, F.lit(0.0)), (nd * qd - sd * sd) / F.nullif(
            nd * (nd - F.lit(1.0)), F.lit(0.0)
        )

    m1, v1 = mean_var("n_old", "s_old", "q_old")
    m2, v2 = mean_var("n_new", "s_new", "q_new")
    stats = agg.select(
        "source",
        "n_old",
        "n_new",
        m1.alias("mean_old"),
        m2.alias("mean_new"),
        v1.alias("var_old"),
        v2.alias("var_new"),
    )
    t = (F.col("mean_old") - F.col("mean_new")) / F.nullif(
        F.sqrt(
            F.col("var_old") / F.col("n_old").cast("double")
            + F.col("var_new") / F.col("n_new").cast("double")
        ),
        F.lit(0.0),
    )
    return stats.select("*", t.alias("t_stat"))


Q164_SQL = """
WITH agg AS (
  SELECT source,
         CAST(sum(CASE WHEN doc_id % 5 < 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_old,
         CAST(sum(CASE WHEN doc_id % 5 < 3 THEN n_chars ELSE 0 END) AS BIGINT)
           AS s_old,
         sum(CASE WHEN doc_id % 5 < 3
                  THEN CAST(n_chars AS DECIMAL(19,0))
                       * CAST(n_chars AS DECIMAL(19,0))
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_old,
         CAST(sum(CASE WHEN doc_id % 5 >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN doc_id % 5 >= 3 THEN n_chars ELSE 0 END) AS BIGINT)
           AS s_new,
         sum(CASE WHEN doc_id % 5 >= 3
                  THEN CAST(n_chars AS DECIMAL(19,0))
                       * CAST(n_chars AS DECIMAL(19,0))
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS q_new
  FROM documents GROUP BY source
), stats AS (
  SELECT source, n_old, n_new,
         CAST(s_old AS DOUBLE) / nullif(CAST(n_old AS DOUBLE), 0.0) AS mean_old,
         CAST(s_new AS DOUBLE) / nullif(CAST(n_new AS DOUBLE), 0.0) AS mean_new,
         (CAST(n_old AS DOUBLE) * CAST(q_old AS DOUBLE)
            - CAST(s_old AS DOUBLE) * CAST(s_old AS DOUBLE))
           / nullif(CAST(n_old AS DOUBLE) * (CAST(n_old AS DOUBLE) - 1.0), 0.0)
           AS var_old,
         (CAST(n_new AS DOUBLE) * CAST(q_new AS DOUBLE)
            - CAST(s_new AS DOUBLE) * CAST(s_new AS DOUBLE))
           / nullif(CAST(n_new AS DOUBLE) * (CAST(n_new AS DOUBLE) - 1.0), 0.0)
           AS var_new
  FROM agg
)
SELECT source, n_old, n_new, mean_old, mean_new, var_old, var_new,
       (mean_old - mean_new)
         / nullif(sqrt(var_old / CAST(n_old AS DOUBLE)
                       + var_new / CAST(n_new AS DOUBLE)), 0.0) AS t_stat
FROM stats
"""


# trend residual outliers (round 5): the top-3 days per region whose
# revenue deviates most from q159's least-squares fit — the
# anomaly-review face of the trend operator, composed from the SAME
# helpers (_region_daily_revenue, _trend_sums, _slope_col) so a fit fix
# cannot drift this query. The fit is a regions-sized broadcast onto
# the day-grain series; the rank window partitions by region over that
# bounded day grain. Ordering on the residual double is portable
# because both engines compute it from identical exact operands with an
# identical expression tree.

def q165_trend_residuals(
    spark: SparkSession, sf: str, top_n: int = 3
) -> DataFrame:
    # persisted: daily feeds both the fit sums and the residual join
    daily = _region_daily_revenue(spark, sf).persist()
    sums = _trend_sums(daily)
    slope = _slope_col()
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    fit = sums.select(
        "region",
        slope.alias("slope"),
        ((F.col("sy").cast("double") - slope * sx) / nd).alias("icept"),
    )
    j = daily.join(F.broadcast(fit), "region")
    resid = F.col("y").cast("double") - (
        F.col("slope") * F.col("x").cast("double") + F.col("icept")
    )
    scored = j.select(
        "region",
        F.col("x").cast("bigint").alias("day_index"),
        F.col("y").cast("bigint").alias("y_cents"),
        resid.alias("residual"),
    )
    w = Window.partitionBy("region").orderBy(
        F.abs(F.col("residual")).desc(), F.col("day_index")
    )
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).filter(
        F.col("rk") <= top_n
    )


Q165_SQL = f"""
WITH daily AS ({_TREND_DAILY_SQL}), sums AS ({_TREND_SUMS_SQL}),
fit AS (
  SELECT region, {_SLOPE_SQL} AS slope,
         {_INTERCEPT_SQL} AS icept
  FROM sums
), scored AS (
  SELECT d.region, CAST(d.x AS BIGINT) AS day_index,
         CAST(d.y AS BIGINT) AS y_cents,
         CAST(d.y AS DOUBLE)
           - (f.slope * CAST(d.x AS DOUBLE) + f.icept) AS residual
  FROM daily d JOIN fit f USING (region)
)
SELECT * FROM (
  SELECT region, day_index, y_cents, residual,
         CAST(row_number() OVER (PARTITION BY region
                                 ORDER BY abs(residual) DESC, day_index)
              AS INT) AS rk
  FROM scored
) WHERE rk <= 3
"""


# order-backlog time series (round 5): how many orders are OPEN each
# day — the event-sourcing interval-count pattern: every order emits a
# +1 delta at its order date and a -1 delta the day after its last
# shipment, deltas aggregate to the DAY grain, and a running sum turns
# deltas into the level series. The running window orders the bounded
# day grain (a few thousand rows regardless of fact volume), never raw
# orders; orders with no lineitems open and never close, matching the
# oracle's inner-join close side.

def q166_order_backlog(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf).select("o_orderkey", "o_orderdate")
    ship = _li(spark, sf).groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship")
    )
    opens = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").cast("bigint").alias("opened")
    )
    closes = (
        o.join(ship, o["o_orderkey"] == ship["l_orderkey"])
        .groupBy(F.date_add("last_ship", 1).alias("day"))
        .agg(F.count("*").cast("bigint").alias("closed"))
    )
    zero = F.lit(0).cast("bigint")
    days = opens.join(closes, "day", "full_outer").select(
        "day",
        F.coalesce("opened", zero).alias("n_opened"),
        F.coalesce("closed", zero).alias("n_closed"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return days.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .cast("bigint")
        .alias("backlog"),
    )


Q166_SQL = """
WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders),
ship AS (
  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
  FROM lineitem GROUP BY 1
),
opens AS (SELECT od AS day, CAST(count(*) AS BIGINT) AS opened FROM o GROUP BY 1),
closes AS (
  SELECT CAST(last_ship + INTERVAL 1 DAY AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS closed
  FROM o JOIN ship ON o_orderkey = l_orderkey GROUP BY 1
),
days AS (
  SELECT coalesce(opens.day, closes.day) AS day,
         coalesce(opened, 0) AS n_opened, coalesce(closed, 0) AS n_closed
  FROM opens FULL OUTER JOIN closes ON opens.day = closes.day
)
SELECT day, n_opened, n_closed,
       CAST(sum(n_opened - n_closed)
            OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS backlog
FROM days
"""


# gains / lift table (round 5): rank customers into spend deciles BEST
# FIRST (decile 1 = top spenders — q56 ranks ascending for the
# distribution view; this is the campaign-targeting view) and report
# each decile's cumulative share of total revenue — the gains-chart /
# Lorenz-curve table. Exact decimal sums throughout; the cumulative and
# grand-total window sums run over the TEN decile rows, and the share
# is one double division of identical exact operands.

def q167_gains_table(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    orders = _ord(spark, sf)
    spend = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(_dec2(F.sum(_rev())).alias("spend"))
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("cust_key"))
    per = (
        spend.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("spend").alias("ssum"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "decile",
        "n_customers",
        F.col("ssum").cast("double").alias("sum_spend"),
        (
            F.sum("ssum").over(wc).cast("double")
            / F.sum("ssum").over(wt).cast("double")
        ).alias("cum_share"),
    )


Q167_SQL = f"""
WITH spend AS (
  SELECT o_custkey AS cust_key, {_sql_dec2(f"sum({_REV})")} AS spend
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
), ranked AS (
  SELECT cust_key, spend,
         CAST(ntile(10) OVER (ORDER BY spend DESC, cust_key) AS INT) AS decile
  FROM spend
), per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers, sum(spend) AS ssum
  FROM ranked GROUP BY 1
)
SELECT decile, n_customers, CAST(ssum AS DOUBLE) AS sum_spend,
       CAST(sum(ssum) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(sum(ssum) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS DOUBLE) AS cum_share
FROM per
"""


# per-label embedding outliers (round 5): flag members whose centroid
# cosine falls below their OWN label's exact nearest-rank p10 — the
# embedding-space mislabel/contamination gate, composed from q105's
# quantized scoring helper (exact-integer cosines make the threshold
# row identical on both engines). The p10 rank k = ceil(n/10) is pure
# INTEGER arithmetic ((n+9) div 10 — never n*0.1, whose binary-float
# representation rounds ceil the wrong way at exact multiples); the
# label-sized threshold table broadcasts onto the scored members.

def q168_label_outliers(spark: SparkSession, sf: str) -> DataFrame:
    # persisted: scored feeds both the threshold ranking and the
    # below-threshold count join
    scored = _label_cosine_scores(spark, sf).persist()
    w = Window.partitionBy("label").orderBy("__cos", "vec_id")
    wn = Window.partitionBy("label")
    ranked = scored.select(
        "label",
        "__cos",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    thr = ranked.filter(
        F.col("rn") == F.expr("(n + 9) div 10")
    ).select("label", F.col("__cos").alias("thr"), "n")
    return (
        scored.join(F.broadcast(thr), "label")
        .groupBy("label")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.max("thr").cast("double").alias("p10_cos"),
            F.sum(F.when(F.col("__cos") < F.col("thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
        )
    )


Q168_SQL = f"""{_COS_SCORED_CTE}, ranked AS (
  SELECT label, cos,
         row_number() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rn,
         count(*) OVER (PARTITION BY label) AS n
  FROM scored
), thr AS (
  SELECT label, cos AS thr, n FROM ranked WHERE rn = (n + 9) // 10
)
SELECT s.label, CAST(t.n AS BIGINT) AS n_members,
       CAST(t.thr AS DOUBLE) AS p10_cos,
       CAST(sum(CASE WHEN s.cos < t.thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below
FROM scored s JOIN thr t USING (label)
GROUP BY s.label, t.n, t.thr
"""


# ABC / Pareto classification (round 5): parts bucketed A/B/C by
# cumulative revenue share (80 / 95 cut points) — the inventory-policy
# classic. The global best-first running sum is
# recipe.two_phase_running_sum with a VALUE-RANGE shard over the cents
# (monotone in the revenue-desc order, q144's convention) — NO
# single-partition window over the part grain; the oracle runs the
# naive global window, and the two-phase contract makes them
# bit-identical. Class boundaries compare the same exact-integer
# cum/total as doubles on both engines.

def q169_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    li = _li(spark, sf)
    # persisted: per feeds the bounds, the sharded walk and the total
    per = (
        li.groupBy(F.col("l_partkey").alias("part_key"))
        .agg(_dec2(F.sum(_rev())).alias("spend"))
        .select(
            "part_key", (F.col("spend") * 100).cast("bigint").alias("rev_cents")
        )
        .persist()
    )
    bounds = per.agg(
        F.max("rev_cents").alias("__hi"), F.min("rev_cents").alias("__lo")
    )
    staged = per.crossJoin(F.broadcast(bounds)).withColumn(
        "__w", F.expr("(__hi - __lo) div 16 + 1")
    )
    cum = two_phase_running_sum(
        staged,
        group_cols=[],
        shard=F.expr("CAST((__hi - rev_cents) div __w AS INT)"),
        order=[F.desc("rev_cents"), F.asc("part_key")],
        value_col="rev_cents",
        out_col="cum_cents",
    )
    tot = per.agg(F.sum("rev_cents").alias("__tot"))
    share = F.col("cum_cents").cast("double") / F.col("__tot").cast("double")
    cls = (
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select("part_key", "rev_cents", "__tot", cls.alias("abc_class"))
        .groupBy("abc_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("rev_cents").alias("class_cents"),
            (
                F.sum("rev_cents").cast("double")
                / F.max("__tot").cast("double")
            ).alias("class_share"),
        )
    )


Q169_SQL = f"""
WITH per AS (
  SELECT l_partkey AS part_key, {_sql_dec2(f"sum({_REV})")} AS spend
  FROM lineitem GROUP BY 1
), cents AS (
  SELECT part_key, CAST(spend * 100 AS BIGINT) AS rev_cents FROM per
), cum AS (
  SELECT part_key, rev_cents,
         sum(rev_cents) OVER (ORDER BY rev_cents DESC, part_key
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
         sum(rev_cents) OVER () AS tot
  FROM cents
), cls AS (
  SELECT part_key, rev_cents, tot,
         CASE WHEN CAST(cum_cents AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8
                THEN 'A'
              WHEN CAST(cum_cents AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95
                THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_cents) AS BIGINT) AS class_cents,
       CAST(sum(rev_cents) AS DOUBLE) / CAST(max(tot) AS DOUBLE)
         AS class_share
FROM cls GROUP BY 1
"""


# seasonal-naive backtest (round 5): predict each region-month's
# revenue with the same month one year earlier and score the forecast
# with WAPE = Σ|actual−pred| / Σactual — the weighted form keeps every
# operand an exact integer (per-month APE would mean-average doubles,
# which is partition-order-dependent; WAPE is one trailing division).
# The month join is a self-join on the bounded (region, month-index)
# grain, not a window.

def q170_seasonal_backtest(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    monthly = (
        o.join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).alias("midx"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            ).alias("cents")
        )
    )
    a, p = monthly.alias("a"), monthly.alias("p")
    j = a.join(
        p,
        (F.col("a.region") == F.col("p.region"))
        & (F.col("a.midx") == F.col("p.midx") + 12),
    )
    err = F.abs(F.col("a.cents") - F.col("p.cents"))
    out = j.groupBy(F.col("a.region").alias("region")).agg(
        F.count("*").cast("bigint").alias("n_scored"),
        F.sum(err).alias("err_cents"),
        F.sum(F.col("a.cents")).alias("actual_cents"),
    )
    return out.select(
        "*",
        (
            F.col("err_cents").cast("double")
            / F.col("actual_cents").cast("double")
        ).alias("wape"),
    )


Q170_SQL = """
WITH monthly AS (
  SELECT r.r_name AS region,
         year(CAST(o.o_orderdate AS DATE)) * 12
           + month(CAST(o.o_orderdate AS DATE)) AS midx,
         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT a.region, CAST(count(*) AS BIGINT) AS n_scored,
       CAST(sum(abs(a.cents - p.cents)) AS BIGINT) AS err_cents,
       CAST(sum(a.cents) AS BIGINT) AS actual_cents,
       CAST(sum(abs(a.cents - p.cents)) AS DOUBLE)
         / CAST(sum(a.cents) AS DOUBLE) AS wape
FROM monthly a JOIN monthly p
  ON a.region = p.region AND a.midx = p.midx + 12
GROUP BY 1
"""


# duplicate-payment audit (round 5): orders by the same customer on the
# same day for the same exact amount — the classic finance
# double-charge review queue. One groupBy on the composite natural key
# with exact cents; output is only the offending groups.

def q171_duplicate_orders(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        o.groupBy(
            F.col("o_custkey").alias("cust_key"),
            F.col("o_orderdate").alias("day"),
            cents.alias("amount_cents"),
        )
        .agg(F.count("*").cast("bigint").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


Q171_SQL = """
SELECT o_custkey AS cust_key, CAST(o_orderdate AS DATE) AS day,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS amount_cents,
       CAST(count(*) AS BIGINT) AS n_dups
FROM orders
GROUP BY 1, 2, 3
HAVING count(*) > 1
"""


# benchmark decontamination rewrite (round 5): q70 measures
# contamination, this ACTS on it — drop corpus documents whose 3-gram
# benchmark overlap exceeds 0.5 (the audit→action pairing of
# q121 strip / q112 rewrite) and report the per-source removal bill.
# Composes DD.benchmark_overlap verbatim, so the detector cannot drift
# from the audit; the threshold compares the same DECIMAL(9,6) ratio on
# both engines; the rollup is one sources-sized conditional agg.

def q172_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    cont = DD.benchmark_overlap(corpus, bench, "doc_id", "text", n=3).select(
        "doc_id", "contamination"
    )
    dropped = F.col("contamination") > 0.5
    return (
        corpus.select("doc_id", "source", "n_chars")
        .join(cont, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(dropped, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(dropped, 0).otherwise(F.col("n_chars")))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


Q172_SQL = f"""{_CONTAM_CTE}, cont AS (
  SELECT c.doc_id,
         CAST(CAST(count(b.shingle) AS DOUBLE) / count(*) AS DECIMAL(9,6))
           AS contamination
  FROM sh c LEFT JOIN bench b ON c.shingle = b.shingle
  WHERE c.source <> 'src0'
  GROUP BY 1
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN cont.contamination > 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN cont.contamination > 0.5 THEN 0 ELSE d.n_chars END)
            AS BIGINT) AS kept_chars
FROM documents d JOIN cont ON d.doc_id = cont.doc_id
WHERE d.source <> 'src0'
GROUP BY 1
"""


# quality/length correlation per source (round 5): does a feed's
# quality score just proxy document length? Pearson r between the q22
# quality score and character count per source — q151's
# portable-exactness recipe on the DOC grain: quality lifted to exact
# integer MICRO-units (decimal(9,6)·10⁶), all five sums exact
# DECIMAL(19,0) products, then ONE identical double expression. The
# oracle embeds Q22's quality subquery verbatim, so the score cannot
# drift between audit and correlation.

def q173_quality_length_corr(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    q = T.quality_score("text").cast("decimal(9,6)")
    base = docs.select(
        "source",
        (q * 1000000).cast("bigint").alias("x"),
        F.length("text").cast("bigint").alias("y"),
    )
    d19 = "decimal(19,0)"
    sums = base.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d19) * F.col("y").cast(d19)).alias("sxy"),
        F.sum(F.col("x").cast(d19) * F.col("x").cast(d19)).alias("sxx"),
        F.sum(F.col("y").cast(d19) * F.col("y").cast(d19)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    denom = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    corr = (nd * sxy - sx * sy) / F.nullif(denom, F.lit(0.0))
    return sums.select(
        "source", F.col("n").cast("bigint").alias("n_docs"), corr.alias("corr")
    )


Q173_SQL = f"""
WITH joined AS (
  SELECT d.source,
         CAST(q.quality * 1000000 AS BIGINT) AS x,
         CAST(length(d.text) AS BIGINT) AS y
  FROM ({Q22_SQL}) q JOIN documents d USING (doc_id)
), sums AS (
  SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
  FROM joined GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / nullif(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)
         AS corr
FROM sums
"""


# cross-language duplicate fingerprints (round 5): content fingerprints
# that appear under MORE THAN ONE declared language — the
# metadata-error / boilerplate-translation artifact q153's
# detector-based audit cannot see (identical bytes, different labels).
# One groupBy on the 16-byte fingerprint; canonical member via the
# min-struct arg-min (q122's shape).

def q174_crosslang_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    fp = docs.select(
        T.fingerprint("text").alias("fingerprint"), "lang", "doc_id"
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").alias("canon_id"),
        )
        .filter(F.col("n_langs") > 1)
    )


Q174_SQL = r"""
WITH fp AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
         lang, doc_id
  FROM documents
)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       min(doc_id) AS canon_id
FROM fp GROUP BY 1
HAVING count(DISTINCT lang) > 1
"""


# profile drift report (round 5): q160's column census split across the
# old/new snapshot halves (q156's doc_id%5 convention applied to
# o_orderkey) — null-rate or cardinality moves per column are the
# schema-health alarm a profile table exists to raise. One conditional
# agg per column over a pruned single-column scan; doubles excluded
# like q160 (engine float FORMATTING differs in string space).

def q175_profile_drift(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
    ]
    parts = []
    for c in cols:
        old = F.col("o_orderkey") % 5 < 3
        sc = F.col(c).cast("string")
        parts.append(
            o.select(F.col("o_orderkey"), sc.alias("v")).agg(
                F.lit(c).alias("col_name"),
                F.sum(F.when(old, 1).otherwise(0)).cast("bigint").alias("n_old"),
                F.sum(F.when(~old, 1).otherwise(0)).cast("bigint").alias("n_new"),
                F.sum(F.when(old & F.col("v").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("null_old"),
                F.sum(F.when(~old & F.col("v").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("null_new"),
                F.count_distinct(F.when(old, F.col("v")))
                .cast("bigint")
                .alias("distinct_old"),
                F.count_distinct(F.when(~old, F.col("v")))
                .cast("bigint")
                .alias("distinct_new"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q175_col_sql(name: str, expr: str) -> str:
    return f"""
  SELECT '{name}' AS col_name,
         CAST(sum(CASE WHEN o_orderkey % 5 < 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_old,
         CAST(sum(CASE WHEN o_orderkey % 5 >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN o_orderkey % 5 < 3 AND v IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_old,
         CAST(sum(CASE WHEN o_orderkey % 5 >= 3 AND v IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_new,
         CAST(count(DISTINCT CASE WHEN o_orderkey % 5 < 3 THEN v END)
              AS BIGINT) AS distinct_old,
         CAST(count(DISTINCT CASE WHEN o_orderkey % 5 >= 3 THEN v END)
              AS BIGINT) AS distinct_new
  FROM (SELECT o_orderkey, CAST({expr} AS VARCHAR) AS v FROM orders)"""


Q175_SQL = "\nUNION ALL\n".join(
    _q175_col_sql(name, expr)
    for name, expr in [
        ("o_orderkey", "o_orderkey"),
        ("o_custkey", "o_custkey"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_orderpriority", "o_orderpriority"),
        ("o_orderdate", "CAST(o_orderdate AS DATE)"),
    ]
)


# A/B experiment readout (round 5): users hashed into two arms (q57's
# md5-bucket convention — deterministic, seed-free, reproducible on any
# cluster), per-arm conversion = PURCHASE WITHIN 24H OF FIRST SIGNUP
# (the ever-purchased definition saturates at 100% on long event
# histories — measured — and degenerates the z), and the
# two-proportion pooled z statistic — exact integer counts all the
# way, then one identical double tree with sqrt (IEEE-portable). One
# user-grain agg, one arms-sized rollup to a single row; the 24h bound
# is wall-clock NTZ interval arithmetic on both engines.

def q176_ab_experiment(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import hash_bucket

    ev = load_table(spark, sf, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    users = (
        ev.join(signup, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") <= F.col("st") + F.expr("INTERVAL 24 HOURS")),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )
    arm = hash_bucket(F.col("user_id"), 2)
    per = users.select(arm.alias("arm"), "conv").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    rate_a, rate_b = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    z = (rate_a - rate_b) / F.nullif(
        F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)),
        F.lit(0.0),
    )
    return per.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        z.alias("z_stat"),
    )


Q176_SQL = """
WITH signup AS (
  SELECT user_id, min(ts) AS st FROM events
  WHERE event_type = 'signup' GROUP BY 1
), users AS (
  SELECT e.user_id,
         max(CASE WHEN e.event_type = 'purchase'
                   AND e.ts <= s.st + INTERVAL 24 HOURS
                  THEN 1 ELSE 0 END) AS conv,
         CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS arm
  FROM events e JOIN signup s USING (user_id) GROUP BY 1
), per AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM users
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         / nullif(sqrt(
             ((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
             * (1.0 - (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0.0)
         AS z_stat
FROM per
"""


# time-weighted average event value (round 5): each event's value is
# held until the user's NEXT event; the per-user average weights value
# by that holding duration — the finance/telemetry TWA that a plain
# avg() misrepresents under irregular sampling. Durations are exact
# wall-clock micros (timestampdiff on the NTZ reading — TZ-free since
# only differences survive). PORTABILITY LESSON (measured, 1-ulp
# mismatches): a Σ(value·micros) decimal numerator exceeds 2⁵³ and the
# engines' wide-decimal→double conversions round DIFFERENTLY at 17+
# significant digits — so the division operands are kept exactly
# double-representable instead: centi-unit values × SECOND-resolution
# weights (both sums < 2⁵³, conversion exact on any engine), one
# identical double tree at the end. Micros still surface exactly as
# BIGINT. The lead() window partitions per user over bounded per-user
# event counts.

def q177_time_weighted_value(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.withColumn("next_ts", F.lead("ts").over(w))
    dur = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    d19 = "decimal(19,0)"
    weighted = nxt.filter(F.col("next_ts").isNotNull()).select(
        "user_id",
        dur.alias("dur_us"),
        F.expr("timestampdiff(MICROSECOND, ts, next_ts) div 1000000").alias(
            "dur_s"
        ),
        F.round(F.col("v") * 100, 0).cast("bigint").alias("vc"),
    )
    out = weighted.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_held"),
        F.sum("dur_us").cast("bigint").alias("dur_us"),
        F.sum("dur_s").cast("bigint").alias("_sdur"),
        F.sum(F.col("vc").cast(d19) * F.col("dur_s").cast(d19)).alias("_swv"),
    )
    twa = (
        F.col("_swv").cast("double")
        / F.nullif(F.col("_sdur").cast("double"), F.lit(0.0))
    ) / F.lit(100.0)
    return out.select("user_id", "n_held", "dur_us", twa.alias("twa_value"))


Q177_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,4)) AS v,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events
), weighted AS (
  SELECT user_id,
         date_diff('microsecond', ts, next_ts) AS dur_us,
         date_diff('microsecond', ts, next_ts) // 1000000 AS dur_s,
         CAST(round(v * 100, 0) AS BIGINT) AS vc
  FROM ev WHERE next_ts IS NOT NULL
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_held,
       CAST(sum(dur_us) AS BIGINT) AS dur_us,
       (CAST(sum(CAST(vc AS DECIMAL(19,0)) * CAST(dur_s AS DECIMAL(19,0)))
             AS DOUBLE)
          / nullif(CAST(sum(dur_s) AS DOUBLE), 0.0)) / 100.0 AS twa_value
FROM weighted GROUP BY 1
"""


# entity resolution end-to-end (round 5): q43's blocked fuzzy part-name
# pairs → connected components → one consolidated GOLDEN-RECORD row per
# matched entity with its member count and total revenue — the full ER
# chain (block, match, cluster, consolidate) composed from three
# already-green operators (q43 pairs, graph.connected_components, the
# q150 consolidation idea reduced to revenue). The component pass runs
# on the MATCHED-PAIR graph (orders of magnitude under the part grain);
# revenue joins on the part key. Oracle: the q49 recursive-CTE
# skeleton over the q43 pair predicate.

def q178_entity_resolution(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import connected_components

    pairs = q43_fuzzy_part_names(spark, sf)
    edges = pairs.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    comp = connected_components(edges, "src", "dst")
    rev = (
        _li(spark, sf)
        .groupBy(F.col("l_partkey").alias("node"))
        .agg(_dec2(F.sum(_rev())).alias("spend"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        comp.join(rev, "node", "left")
        .groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(F.coalesce(F.col("spend"), zero))
            .cast("double")
            .alias("entity_rev"),
        )
    )


Q178_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS part_a, b.p_partkey AS part_b
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 8
), edges AS (
  SELECT part_a AS u, part_b AS v FROM pairs
  UNION
  SELECT part_b, part_a FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
), comp AS (
  SELECT node, min(lbl) AS entity_id FROM reach GROUP BY node
), rev AS (
  SELECT l_partkey AS node, {_sql_dec2(f"sum({_REV})")} AS spend
  FROM lineitem GROUP BY 1
)
SELECT c.entity_id, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(coalesce(r.spend, 0)) AS DOUBLE) AS entity_rev
FROM comp c LEFT JOIN rev r USING (node)
GROUP BY 1
"""


# per-segment mean with confidence interval (round 5): the BI
# statistician's rollup — order-value mean ± 1.96·sd/√n per market
# segment, everything from ONE conditional-free agg of exact integer
# cents (n, Σx, Σx² with DECIMAL headroom), then identical double
# trees (q164's variance recipe, sample sd).

def q179_segment_confidence(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    base = o.join(cust, o["o_custkey"] == cust["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"), cents.alias("x")
    )
    agg = base.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")).alias("q"),
    )
    nd = F.col("n_orders").cast("double")
    sd_ = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    mean = sd_ / nd
    var = (nd * qd - sd_ * sd_) / F.nullif(nd * (nd - F.lit(1.0)), F.lit(0.0))
    half = F.lit(1.96) * F.sqrt(var) / F.sqrt(nd)
    stats = agg.select(
        "segment", "n_orders", mean.alias("mean_cents"), half.alias("_h")
    )
    return stats.select(
        "segment",
        "n_orders",
        "mean_cents",
        (F.col("mean_cents") - F.col("_h")).alias("ci_lo_cents"),
        (F.col("mean_cents") + F.col("_h")).alias("ci_hi_cents"),
    )


Q179_SQL = """
WITH agg AS (
  SELECT c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS s,
         sum(CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS DECIMAL(19,0))
             * CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT) AS DECIMAL(19,0))) AS q
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), stats AS (
  SELECT segment, n_orders,
         CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_cents,
         1.96 * sqrt((CAST(n_orders AS DOUBLE) * CAST(q AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                     / nullif(CAST(n_orders AS DOUBLE)
                              * (CAST(n_orders AS DOUBLE) - 1.0), 0.0))
              / sqrt(CAST(n_orders AS DOUBLE)) AS h
  FROM agg
)
SELECT segment, n_orders, mean_cents,
       mean_cents - h AS ci_lo_cents,
       mean_cents + h AS ci_hi_cents
FROM stats
"""


# new-vs-returning revenue split (round 5): each month's revenue
# divided between customers in their FIRST month and everyone else —
# the acquisition-vs-retention readout (q140's cohort matrix collapsed
# to the business headline). First-month table is a customer-grain agg
# joined back on the key; exact cents conditional sums.

def q180_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf).select(
        "o_custkey",
        F.trunc("o_orderdate", "month").alias("month"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("month").alias("m0"))
    j = o.join(first, "o_custkey")
    is_new = F.col("month") == F.col("m0")
    return j.groupBy("month").agg(
        F.sum(F.when(is_new, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("rev_new"),
        F.sum(F.when(~is_new, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("rev_returning"),
        F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("n_new"),
        F.sum(F.when(~is_new, 1).otherwise(0))
        .cast("bigint")
        .alias("n_returning"),
    )


Q180_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), first AS (
  SELECT o_custkey, min(month) AS m0 FROM o GROUP BY 1
)
SELECT month,
       CAST(sum(CASE WHEN month = m0 THEN cents ELSE 0 END) AS BIGINT)
         AS rev_new,
       CAST(sum(CASE WHEN month <> m0 THEN cents ELSE 0 END) AS BIGINT)
         AS rev_returning,
       CAST(sum(CASE WHEN month = m0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN month <> m0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning
FROM o JOIN first USING (o_custkey)
GROUP BY 1
"""


# sole-blame late supplier (round 5): the TPC-H Q21 shape — suppliers
# whose lines shipped late (> 60 days after the order date) on
# MULTI-SUPPLIER orders where every OTHER supplier shipped on time.
# The classic formulation is a correlated EXISTS + NOT-EXISTS pair;
# the Spark-first rewrite DECORRELATES it into one (order, supplier)
# aggregation and one per-order rollup — no correlated subquery, no
# per-row re-scan, two shuffles total. Oracle runs the textbook
# EXISTS/NOT-EXISTS form, proving the rewrite.

def q181_sole_blame_supplier(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = _ord(spark, sf).select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("sd") > F.date_add(F.col("o_orderdate"), 60)).alias("late"),
    )
    # persisted: per_os feeds the per-order rollup and the blame join
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("late"), 1).otherwise(0)).alias("any_late")
    ).persist()
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("any_late").alias("n_late_supp"),
    )
    blame = (
        per_os.filter(F.col("any_late") == 1)
        .join(
            per_o.filter(
                (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
    )
    return blame.groupBy(F.col("l_suppkey").alias("supp_key")).agg(
        F.count("*").cast("bigint").alias("n_blame_orders")
    )


Q181_SQL = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60 AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l_suppkey AS supp_key, CAST(count(*) AS BIGINT) AS n_blame_orders
FROM (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM li a
  WHERE a.late
    AND EXISTS (SELECT 1 FROM li b
                WHERE b.l_orderkey = a.l_orderkey
                  AND b.l_suppkey <> a.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM li c
                    WHERE c.l_orderkey = a.l_orderkey
                      AND c.l_suppkey <> a.l_suppkey AND c.late)
)
GROUP BY 1
"""


# customer quintile migration matrix (round 5): how customers move
# between spend quintiles from the FIRST to the SECOND half of the
# timeline (half = order date before/after the global midpoint date,
# derived from exact min/max) — the Sankey/churn-mobility readout.
# Quintiles rank the customer grain per half with explicit tie-breaks;
# customers active in only one half land in bucket 0 of the other via
# the full-outer join.

def q182_quintile_migration(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    bounds = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    # integer div on BOTH engines — CAST(double AS INT) truncates on
    # Spark but rounds on DuckDB, so never derive the midpoint via /2
    mid = F.expr("date_add(lo, CAST(datediff(hi, lo) div 2 AS INT))")
    # persisted: staged feeds both half rankings
    staged = (
        o.crossJoin(F.broadcast(bounds))
        .select(
            "o_custkey",
            (F.col("o_orderdate") <= mid).alias("is_h1"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .persist()
    )

    def half(df: DataFrame, flag: bool, out: str) -> DataFrame:
        spend = (
            df.filter(F.col("is_h1") == flag)
            .groupBy("o_custkey")
            .agg(F.sum("cents").alias("spend"))
        )
        w = Window.orderBy(F.col("spend"), F.col("o_custkey"))
        return spend.select(
            "o_custkey", F.ntile(5).over(w).cast("int").alias(out)
        )

    h1 = half(staged, True, "q_h1")
    h2 = half(staged, False, "q_h2")
    m = h1.join(h2, "o_custkey", "full_outer").select(
        F.coalesce("q_h1", F.lit(0)).alias("q_h1"),
        F.coalesce("q_h2", F.lit(0)).alias("q_h2"),
    )
    return m.groupBy("q_h1", "q_h2").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )


Q182_SQL = """
WITH bounds AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS lo,
         max(CAST(o_orderdate AS DATE)) AS hi
  FROM orders
), staged AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE)
           <= lo + CAST(datediff('day', lo, hi) // 2 AS INTEGER) AS is_h1,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders CROSS JOIN bounds
), h1 AS (
  SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY spend, o_custkey) AS INT)
           AS q_h1
  FROM (SELECT o_custkey, sum(cents) AS spend FROM staged
        WHERE is_h1 GROUP BY 1)
), h2 AS (
  SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY spend, o_custkey) AS INT)
           AS q_h2
  FROM (SELECT o_custkey, sum(cents) AS spend FROM staged
        WHERE NOT is_h1 GROUP BY 1)
)
SELECT coalesce(q_h1, 0) AS q_h1, coalesce(q_h2, 0) AS q_h2,
       CAST(count(*) AS BIGINT) AS n_customers
FROM h1 FULL OUTER JOIN h2 USING (o_custkey)
GROUP BY 1, 2
"""


# duplicate line-number audit (round 5): the synthetic lineitem carries
# duplicate (l_orderkey, l_linenumber) pairs BY DESIGN (the module-doc
# tie-break warning exists because of them) — this query is the audit
# that would surface such key violations in production: per order, how
# many line numbers are reused and how many rows are involved.

def q183_duplicate_linenumbers(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    per_ln = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.count("*").alias("n_rows")
    )
    return (
        per_ln.filter(F.col("n_rows") > 1)
        .groupBy(F.col("l_orderkey").alias("order_key"))
        .agg(
            F.count("*").cast("bigint").alias("n_dup_linenumbers"),
            F.sum("n_rows").cast("bigint").alias("n_rows_involved"),
        )
    )


Q183_SQL = """
WITH per_ln AS (
  SELECT l_orderkey, l_linenumber, count(*) AS n_rows
  FROM lineitem GROUP BY 1, 2
)
SELECT l_orderkey AS order_key,
       CAST(count(*) AS BIGINT) AS n_dup_linenumbers,
       CAST(sum(n_rows) AS BIGINT) AS n_rows_involved
FROM per_ln WHERE n_rows > 1
GROUP BY 1
"""


# weekday seasonality index (round 5): each (region, weekday)'s average
# daily revenue relative to the region's overall daily average — the
# seasonality profile a forecaster divides out before trending (q159's
# complement). Both averages come from the SAME exact day-grain sums
# (revenue cents, day counts); the index is one identical double tree.
# weekday() is the one portable day anchoring (q143's lesson:
# Spark weekday() == DuckDB isodow - 1).

def q184_weekday_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    daily = _region_daily_revenue(spark, sf)
    wd = daily.select(
        "region",
        F.expr("weekday(date_add(DATE'1970-01-01', CAST(x AS INT)))").alias(
            "weekday"
        ),
        "y",
    )
    wd = wd.persist()  # feeds the weekday rollup and the region totals
    per_wd = wd.groupBy("region", "weekday").agg(
        F.count("*").alias("n_days"), F.sum("y").alias("rev")
    )
    per_r = wd.groupBy("region").agg(
        F.count("*").alias("n_all"), F.sum("y").alias("rev_all")
    )
    j = per_wd.join(F.broadcast(per_r), "region")
    idx = (
        F.col("rev").cast("double") / F.col("n_days").cast("double")
    ) / (F.col("rev_all").cast("double") / F.col("n_all").cast("double"))
    return j.select(
        "region",
        F.col("weekday").cast("int").alias("weekday"),
        F.col("n_days").cast("bigint").alias("n_days"),
        idx.alias("seasonality_idx"),
    )


Q184_SQL = f"""
WITH daily AS ({_TREND_DAILY_SQL}),
wd AS (
  SELECT region,
         CAST(isodow(DATE '1970-01-01' + CAST(x AS INT)) - 1 AS INT)
           AS weekday,
         y
  FROM daily
), per_wd AS (
  SELECT region, weekday, count(*) AS n_days, sum(y) AS rev
  FROM wd GROUP BY 1, 2
), per_r AS (
  SELECT region, count(*) AS n_all, sum(y) AS rev_all FROM wd GROUP BY 1
)
SELECT w.region, w.weekday, CAST(w.n_days AS BIGINT) AS n_days,
       (CAST(w.rev AS DOUBLE) / CAST(w.n_days AS DOUBLE))
         / (CAST(r.rev_all AS DOUBLE) / CAST(r.n_all AS DOUBLE))
         AS seasonality_idx
FROM per_wd w JOIN per_r r USING (region)
"""


# per-day session stats (round 5): sessions-per-day with the bounce
# rate (single-event sessions) and mean session size — the product-
# analytics headline COMPOSED from q31's sessionizer (this query calls
# the same function; the oracle embeds Q31's SQL verbatim), so the gap
# rule cannot drift between the two. Day-grain conditional agg over
# the session table.

def q185_session_stats(spark: SparkSession, sf: str) -> DataFrame:
    sess = q31_sessionize_batch(spark, sf)
    per = sess.select(
        F.col("session_start").cast("date").alias("day"),
        "n_events",
    )
    return per.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        (
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*").cast("double")
        ).alias("bounce_rate"),
        (
            F.sum("n_events").cast("double") / F.count("*").cast("double")
        ).alias("avg_events"),
    )


Q185_SQL = f"""
WITH sess AS ({Q31_SQL}),
per AS (
  SELECT CAST(session_start AS DATE) AS day, n_events FROM sess
)
SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS bounce_rate,
       CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_events
FROM per GROUP BY 1
"""


# supplier-concentration HHI (round 5): per brand, the Herfindahl
# index of supplier revenue shares — procurement's single-number
# concentration risk. HHI = Σrevᵢ²/(Σrevᵢ)² keeps every operand an
# EXACT integer (never sum squared double shares — partition-order-
# dependent); revenue in whole DOLLARS so both conversion operands
# stay exactly double-representable at gate scales (q177's 2⁵³
# lesson applied preemptively).

def q186_supplier_hhi(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey"))
        .agg(_dec2(F.sum(_rev())).alias("spend"))
        .select(
            "brand",
            F.round(F.col("spend"), 0).cast("bigint").alias("rev_d"),
        )
    )
    d19 = "decimal(19,0)"
    agg = rev.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("rev_d").alias("tot_d"),
        F.sum(F.col("rev_d").cast(d19) * F.col("rev_d").cast(d19)).alias(
            "sq"
        ),
    )
    hhi = F.col("sq").cast("double") / F.nullif(
        F.col("tot_d").cast("double") * F.col("tot_d").cast("double"),
        F.lit(0.0),
    )
    return agg.select(
        "brand",
        "n_suppliers",
        F.col("tot_d").cast("bigint").alias("total_dollars"),
        hhi.alias("hhi"),
    )


Q186_SQL = f"""
WITH rev AS (
  SELECT p.p_brand AS brand, l.l_suppkey,
         CAST(round({_sql_dec2(f"sum({_REV})")}, 0) AS BIGINT) AS rev_d
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), agg AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(rev_d) AS BIGINT) AS tot_d,
         sum(CAST(rev_d AS DECIMAL(19,0)) * CAST(rev_d AS DECIMAL(19,0)))
           AS sq
  FROM rev GROUP BY 1
)
SELECT brand, n_suppliers, tot_d AS total_dollars,
       CAST(sq AS DOUBLE)
         / nullif(CAST(tot_d AS DOUBLE) * CAST(tot_d AS DOUBLE), 0.0) AS hhi
FROM agg
"""


# revenue Gini coefficient (round 5): customer-spend inequality in one
# number — G = (2·Σ(rank·x) − (n+1)·Σx) / (n·Σx) over spends ranked
# ascending. The global rank is recipe.two_phase_running_sum OF ONES
# with a value-range shard (q155's rank-sharding, q169's bounds
# convention) — NO single-partition window over the customer grain;
# the oracle ranks with the naive global row_number. Whole-dollar
# spends keep Σ(rank·x) exactly double-representable at gate scales.

def q187_revenue_gini(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    li = _li(spark, sf)
    orders = _ord(spark, sf)
    spend = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(_dec2(F.sum(_rev())).alias("spend"))
        .select(
            "cust_key",
            F.round(F.col("spend"), 0).cast("bigint").alias("x"),
        )
        .persist()  # feeds the bounds and the sharded rank walk
    )
    bounds = spend.agg(F.max("x").alias("__hi"), F.min("x").alias("__lo"))
    staged = spend.crossJoin(F.broadcast(bounds)).withColumn(
        "__w", F.expr("(__hi - __lo) div 16 + 1")
    )
    ranked = two_phase_running_sum(
        staged.withColumn("__one", F.lit(1)),
        group_cols=[],
        shard=F.expr("CAST((x - __lo) div __w AS INT)"),
        order=[F.asc("x"), F.asc("cust_key")],
        value_col="__one",
        out_col="rnk",
    )
    d19 = "decimal(19,0)"
    agg = ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("x").alias("sx"),
        F.sum(F.col("rnk").cast(d19) * F.col("x").cast(d19)).alias("srx"),
    )
    nd = F.col("n_customers").cast("double")
    sx = F.col("sx").cast("double")
    srx = F.col("srx").cast("double")
    gini = (F.lit(2.0) * srx - (nd + F.lit(1.0)) * sx) / F.nullif(
        nd * sx, F.lit(0.0)
    )
    return agg.select(
        "n_customers",
        F.col("sx").cast("bigint").alias("total_dollars"),
        gini.alias("gini"),
    )


Q187_SQL = f"""
WITH spend AS (
  SELECT o_custkey AS cust_key,
         CAST(round({_sql_dec2(f"sum({_REV})")}, 0) AS BIGINT) AS x
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
), ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, cust_key) AS BIGINT) AS rnk
  FROM spend
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(x) AS BIGINT) AS sx,
         sum(CAST(rnk AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS srx
  FROM ranked
)
SELECT n_customers, sx AS total_dollars,
       (2.0 * CAST(srx AS DOUBLE)
          - (CAST(n_customers AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
         / nullif(CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
         AS gini
FROM agg
"""


# dedup threshold sweep (round 5): how aggressive should near-dedup
# be? For each Jaccard threshold 0.2..0.9 (held as integer TENTHS —
# never float thresholds, which compare differently at bucket edges),
# the surviving exact-pair count and the distinct documents involved —
# the tuning curve a curation team reads before fixing q38's
# threshold. Composes the q20 exact pair tier (persisted: it feeds
# both the pair counts and the doc-distinct counts); the 8-row
# threshold spine broadcasts.

def q188_dedup_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    pairs = q20_ngram_jaccard_pairs(spark, sf).persist()
    spine = spark.range(2, 10).select(
        F.col("id").cast("int").alias("thr_tenths")
    )
    staged = pairs.crossJoin(F.broadcast(spine)).filter(
        F.col("jaccard") * 10 >= F.col("thr_tenths")
    )
    n_pairs = staged.groupBy("thr_tenths").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    n_docs = (
        staged.select(
            "thr_tenths",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
        .groupBy("thr_tenths")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "thr_tenths")


Q188_SQL = f"""
WITH pairs AS ({Q20_SQL}),
spine AS (SELECT CAST(unnest(generate_series(2, 9)) AS INT) AS thr_tenths),
staged AS (
  SELECT s.thr_tenths, p.doc_a, p.doc_b
  FROM pairs p CROSS JOIN spine s
  WHERE p.jaccard * 10 >= s.thr_tenths
), np AS (
  SELECT thr_tenths, CAST(count(*) AS BIGINT) AS n_pairs
  FROM staged GROUP BY 1
), nd AS (
  SELECT thr_tenths, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (SELECT thr_tenths, unnest([doc_a, doc_b]) AS doc_id FROM staged)
  GROUP BY 1
)
SELECT thr_tenths, n_pairs, n_docs FROM np JOIN nd USING (thr_tenths)
"""


# deterministic PPS systematic sample (round 5): select documents with
# probability PROPORTIONAL TO TOKEN COUNT and zero RNG — walk the
# corpus in md5-hash order (recipe.hash_order_cumsum, group_cols=():
# the GLOBAL two-phase cumsum, no single-partition window) and keep
# every document whose token interval [cum−n, cum) crosses a multiple
# of the step T. The A-ES weighted-sampling classic needs -ln(u)/w
# keys (libm log — banned as non-portable); systematic PPS over an
# unbiased hash order delivers the same ∝-size inclusion with PURE
# INTEGER arithmetic: selected iff (cum div T) > ((cum−n) div T).
# Long documents (n ≥ T) are always selected; expected sample size is
# total_tokens/T.

def q189_pps_systematic_sample(
    spark: SparkSession, sf: str, step: int = 2000
) -> DataFrame:
    from ..operators.recipe import hash_order_cumsum

    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        T.token_count("text").cast("bigint").alias("n_tok"),
    )
    cum = hash_order_cumsum(staged, group_cols=())
    sel = cum.filter(
        F.expr(f"(cum_tok div {step}) > ((cum_tok - n_tok) div {step})")
    )
    return sel.select(
        "doc_id",
        "source",
        "n_tok",
        F.col("cum_tok").cast("bigint").alias("cum_tok"),
        F.expr(f"CAST(cum_tok div {step} AS BIGINT)").alias("k"),
    )


Q189_SQL = r"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '')) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), cum AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
  FROM base
)
SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok,
       CAST(cum_tok // 2000 AS BIGINT) AS k
FROM cum
WHERE (cum_tok // 2000) > ((cum_tok - n_tok) // 2000)
"""


# day-N retention curve (round 5): per first-activity cohort day, how
# many users return EXACTLY N days later (N = 1, 7, 14) — the product-
# analytics retention table at the EVENT grain (q140 is the monthly
# ORDER-cohort matrix). One distinct (user, day) activity grain, one
# customer-grain first-day agg, three exact-day flags in a single
# conditional pass.

def q190_event_retention(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    # persisted: the distinct grain feeds the first-day agg and the join
    activity = ev.distinct().persist()
    first = activity.groupBy("user_id").agg(F.min("day").alias("d0"))
    j = activity.join(first, "user_id")
    flag = lambda k: F.max(  # noqa: E731
        F.when(F.col("day") == F.date_add(F.col("d0"), k), 1).otherwise(0)
    )
    per_user = j.groupBy("user_id", "d0").agg(
        flag(1).alias("r1"), flag(7).alias("r7"), flag(14).alias("r14")
    )
    out = per_user.groupBy(F.col("d0").alias("cohort_day")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("r1").cast("bigint").alias("ret_1"),
        F.sum("r7").cast("bigint").alias("ret_7"),
        F.sum("r14").cast("bigint").alias("ret_14"),
    )
    rate = lambda c: (  # noqa: E731
        F.col(c).cast("double") / F.col("n_users").cast("double")
    )
    return out.select(
        "cohort_day",
        "n_users",
        "ret_1",
        "ret_7",
        "ret_14",
        rate("ret_1").alias("rate_1"),
        rate("ret_7").alias("rate_7"),
        rate("ret_14").alias("rate_14"),
    )


Q190_SQL = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), first AS (
  SELECT user_id, min(day) AS d0 FROM activity GROUP BY 1
), per_user AS (
  SELECT a.user_id, f.d0,
         max(CASE WHEN a.day = f.d0 + 1 THEN 1 ELSE 0 END) AS r1,
         max(CASE WHEN a.day = f.d0 + 7 THEN 1 ELSE 0 END) AS r7,
         max(CASE WHEN a.day = f.d0 + 14 THEN 1 ELSE 0 END) AS r14
  FROM activity a JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT d0 AS cohort_day, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(r1) AS BIGINT) AS ret_1,
       CAST(sum(r7) AS BIGINT) AS ret_7,
       CAST(sum(r14) AS BIGINT) AS ret_14,
       CAST(sum(r1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rate_1,
       CAST(sum(r7) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rate_7,
       CAST(sum(r14) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rate_14
FROM per_user GROUP BY 1
"""


# funnel step summary (round 5): q78's per-user funnel collapsed to
# the 3-row step table — users reaching each stage, step-to-step and
# overall conversion. COMPOSES q78's function (and embeds its oracle
# SQL), so the ordered-timestamp stage rule cannot drift between the
# detail and the summary.

def q191_funnel_summary(spark: SparkSession, sf: str) -> DataFrame:
    f = q78_event_funnel(spark, sf)
    counts = f.agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("stage") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("stage") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n3"),
    )
    spine = spark.range(1, 4).select(F.col("id").cast("int").alias("stage"))
    j = spine.crossJoin(F.broadcast(counts))
    n_at = (
        F.when(F.col("stage") == 1, F.col("n1"))
        .when(F.col("stage") == 2, F.col("n2"))
        .otherwise(F.col("n3"))
    )
    n_prev = (
        F.when(F.col("stage") == 1, F.col("n1"))
        .when(F.col("stage") == 2, F.col("n1"))
        .otherwise(F.col("n2"))
    )
    return j.select(
        "stage",
        n_at.alias("n_users"),
        (n_at.cast("double") / F.nullif(n_prev.cast("double"), F.lit(0.0))).alias(
            "conv_from_prev"
        ),
        (
            n_at.cast("double") / F.nullif(F.col("n1").cast("double"), F.lit(0.0))
        ).alias("conv_overall"),
    )


Q191_SQL = f"""
WITH funnel AS ({Q78_SQL}),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM funnel
), spine AS (SELECT CAST(unnest(generate_series(1, 3)) AS INT) AS stage)
SELECT stage,
       CASE WHEN stage = 1 THEN n1 WHEN stage = 2 THEN n2 ELSE n3 END
         AS n_users,
       CAST(CASE WHEN stage = 1 THEN n1 WHEN stage = 2 THEN n2 ELSE n3 END
            AS DOUBLE)
         / nullif(CAST(CASE WHEN stage = 1 THEN n1 WHEN stage = 2 THEN n1
                            ELSE n2 END AS DOUBLE), 0.0) AS conv_from_prev,
       CAST(CASE WHEN stage = 1 THEN n1 WHEN stage = 2 THEN n2 ELSE n3 END
            AS DOUBLE)
         / nullif(CAST(n1 AS DOUBLE), 0.0) AS conv_overall
FROM spine CROSS JOIN counts
"""


# dead-stock report (round 5): parts never ordered, per brand — the
# inverse direction of q161's FK audit (parents without children
# instead of orphaned children). One LeftAnti against the lineitem
# part keys, one brand rollup.

def q192_dead_stock(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    ordered = _li(spark, sf).select("l_partkey").distinct()
    dead = part.join(
        ordered, part["p_partkey"] == ordered["l_partkey"], "left_anti"
    )
    per_brand = part.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    dead_brand = dead.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").cast("bigint").alias("n_dead")
    )
    j = per_brand.join(dead_brand, "brand", "left").select(
        "brand",
        "n_parts",
        F.coalesce("n_dead", F.lit(0).cast("bigint")).alias("n_dead"),
    )
    return j.select(
        "*",
        (
            F.col("n_dead").cast("double") / F.col("n_parts").cast("double")
        ).alias("dead_frac"),
    )


Q192_SQL = """
WITH dead AS (
  SELECT p_partkey, p_brand FROM part
  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
), per_brand AS (
  SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1
), dead_brand AS (
  SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_dead
  FROM dead GROUP BY 1
)
SELECT b.brand, b.n_parts, coalesce(d.n_dead, 0) AS n_dead,
       CAST(coalesce(d.n_dead, 0) AS DOUBLE) / CAST(b.n_parts AS DOUBLE)
         AS dead_frac
FROM per_brand b LEFT JOIN dead_brand d USING (brand)
"""


# token-weighted median quality (round 5): the median quality where
# each document votes with its TOKEN COUNT, next to the plain doc
# median — curation decisions weight by tokens, and the two diverge
# whenever quality correlates with length (q173 measures that). Both
# medians come from ONE ordered walk per source: quality lifted to
# integer micro-units, cumulative token weight AND cumulative doc
# count via recipe.two_phase_running_sum on a VALUE-RANGE shard of the
# quality axis (no single-partition window); the median value is then
# min(qm) over rows at/past the integer nearest-rank target.

def q193_token_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        (T.quality_score("text").cast("decimal(9,6)") * 1000000)
        .cast("bigint")
        .alias("qm"),
        T.token_count("text").cast("bigint").alias("n_tok"),
    ).persist()
    shard = F.expr("CAST(qm div 62501 AS INT)")  # qm ∈ [0, 1e6] → 0..15
    order = [F.asc("qm"), F.asc("doc_id")]
    cw = two_phase_running_sum(staged, ["source"], shard, order, "n_tok", "cw")
    cn = two_phase_running_sum(
        staged.withColumn("__one", F.lit(1)),
        ["source"],
        shard,
        order,
        "__one",
        "cn",
    )
    tot = staged.groupBy("source").agg(
        F.sum("n_tok").alias("W"), F.count("*").alias("N")
    )
    wm = (
        cw.join(tot, "source")
        .filter(F.col("cw") >= F.expr("(W + 1) div 2"))
        .groupBy("source")
        .agg(F.min("qm").alias("token_median_qm"))
    )
    dm = (
        cn.join(tot, "source")
        .filter(F.col("cn") >= F.expr("(N + 1) div 2"))
        .groupBy("source")
        .agg(F.min("qm").alias("doc_median_qm"))
    )
    return (
        tot.join(dm, "source")
        .join(wm, "source")
        .select(
            "source",
            F.col("N").cast("bigint").alias("n_docs"),
            F.col("W").cast("bigint").alias("total_tokens"),
            "doc_median_qm",
            "token_median_qm",
        )
    )


Q193_SQL = f"""
WITH base AS (
  SELECT d.source, q.doc_id,
         CAST(q.quality * 1000000 AS BIGINT) AS qm,
         CAST(q.n_tokens AS BIGINT) AS n_tok
  FROM ({Q22_SQL}) q JOIN documents d USING (doc_id)
), cum AS (
  SELECT source, qm, n_tok,
         sum(n_tok) OVER w AS cw,
         row_number() OVER w AS cn
  FROM base
  WINDOW w AS (PARTITION BY source ORDER BY qm, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS w_tot,
         CAST(count(*) AS BIGINT) AS n_tot
  FROM base GROUP BY 1
), wm AS (
  SELECT c.source, min(c.qm) AS token_median_qm
  FROM cum c JOIN tot t USING (source)
  WHERE c.cw >= (t.w_tot + 1) // 2 GROUP BY 1
), dm AS (
  SELECT c.source, min(c.qm) AS doc_median_qm
  FROM cum c JOIN tot t USING (source)
  WHERE c.cn >= (t.n_tot + 1) // 2 GROUP BY 1
)
SELECT t.source, t.n_tot AS n_docs, t.w_tot AS total_tokens,
       dm.doc_median_qm, wm.token_median_qm
FROM tot t JOIN dm USING (source) JOIN wm USING (source)
"""


# per-label embedding centroid drift (round 5): how far each label's
# centroid moved between the old and new snapshot halves (vec_id%5,
# the q156 convention) — the embedding-space drift monitor that
# catches encoder or upstream-distribution changes. Geometry stays
# EXACT integers to the last step: per-dim means in centi-units on the
# +127-shifted grid via non-negative integer division (floor on BOTH
# engines — signed div would truncate on Spark and floor on DuckDB),
# squared diffs summed exactly, ONE sqrt+scale at the end. Composes
# the shared _quantized_embeddings grid.

def q194_embedding_drift(spark: SparkSession, sf: str) -> DataFrame:
    quant = _quantized_embeddings(spark, sf)
    exploded = quant.select(
        "label",
        (F.col("vec_id") % 5 < 3).alias("is_old"),
        F.posexplode("q").alias("dim", "qv"),
    )
    # persisted: cent feeds both half selections of the join
    cent = exploded.groupBy("label", "is_old", "dim").agg(
        F.sum("qv").alias("cv"), F.count("*").alias("n")
    ).persist()
    o = cent.filter(F.col("is_old")).select(
        "label", "dim", F.col("cv").alias("cv_o"), F.col("n").alias("n_o")
    )
    w = cent.filter(~F.col("is_old")).select(
        "label", "dim", F.col("cv").alias("cv_n"), F.col("n").alias("n_n")
    )
    j = o.join(w, ["label", "dim"])
    dd = F.expr(
        "((cv_o + 127 * n_o) * 100) div n_o"
        " - ((cv_n + 127 * n_n) * 100) div n_n"
    )
    agg = j.select("label", "n_o", "n_n", dd.alias("dd")).groupBy("label").agg(
        F.max("n_o").cast("bigint").alias("n_old"),
        F.max("n_n").cast("bigint").alias("n_new"),
        F.sum(F.col("dd") * F.col("dd")).alias("ss"),
    )
    return agg.select(
        "label",
        "n_old",
        "n_new",
        (F.sqrt(F.col("ss").cast("double")) / F.lit(100.0)).alias(
            "centroid_drift"
        ),
    )


Q194_SQL = """
WITH quant AS (
  SELECT vec_id, label,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                  greatest(list_max(list_transform(embedding,
                      y -> abs(CAST(y AS DOUBLE)))), 1e-12)) AS BIGINT)) AS q
  FROM embeddings
), exploded AS (
  SELECT label, (vec_id % 5 < 3) AS is_old, d.dim, q[d.dim] AS qv
  FROM quant, LATERAL (SELECT unnest(generate_series(1, len(q))) AS dim) d
), cent AS (
  SELECT label, is_old, dim, sum(qv) AS cv, count(*) AS n
  FROM exploded GROUP BY 1, 2, 3
), j AS (
  SELECT o.label, o.dim, o.cv AS cv_o, o.n AS n_o, w.cv AS cv_n, w.n AS n_n
  FROM cent o JOIN cent w
    ON o.label = w.label AND o.dim = w.dim AND o.is_old AND NOT w.is_old
), d AS (
  SELECT label, n_o, n_n,
         ((cv_o + 127 * n_o) * 100) // n_o
           - ((cv_n + 127 * n_n) * 100) // n_n AS dd
  FROM j
)
SELECT label, CAST(max(n_o) AS BIGINT) AS n_old,
       CAST(max(n_n) AS BIGINT) AS n_new,
       sqrt(CAST(sum(dd * dd) AS DOUBLE)) / 100.0 AS centroid_drift
FROM d GROUP BY label
"""


#: Benford expected first-digit shares, log10(1 + 1/d). Computed ONCE
#: in Python and inlined as identical literals on both engines — the
#: libm-log portability ban applies to ENGINE-side math, not to a
#: compile-time constant shared by construction.
import math as _math  # noqa: E402

_BENFORD = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


# Benford first-digit audit (round 5): the fraud/data-quality classic
# — the first-digit distribution of order amounts against Benford's
# law, with per-digit chi-square contributions. The digit comes from
# the CENTS integer's string form (×100 never changes the leading
# digit; a double's string form differs between engines, an integer's
# never does). One conditional-free groupBy on the digit.

def q195_benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    ).filter(F.col("digit") >= 1)
    counts = digits.groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    bench = spark.createDataFrame(
        [(d, b) for d, b in _BENFORD.items()], "digit INT, benford_frac DOUBLE"
    )
    tot = counts.agg(F.sum("n_orders").alias("__tot"))
    j = counts.join(F.broadcast(bench), "digit").crossJoin(F.broadcast(tot))
    nd = F.col("n_orders").cast("double")
    td = F.col("__tot").cast("double")
    expect = td * F.col("benford_frac")
    return j.select(
        "digit",
        "n_orders",
        (nd / td).alias("frac"),
        "benford_frac",
        ((nd - expect) * (nd - expect) / expect).alias("chi2_term"),
    )


Q195_SQL = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
  FROM digits WHERE digit >= 1 GROUP BY 1
), bench(digit, benford_frac) AS (
  VALUES {", ".join(f"({d}, CAST({b!r} AS DOUBLE))" for d, b in _BENFORD.items())}
), tot AS (SELECT sum(n_orders) AS t FROM counts)
SELECT c.digit, c.n_orders,
       CAST(c.n_orders AS DOUBLE) / CAST(t.t AS DOUBLE) AS frac,
       b.benford_frac,
       (CAST(c.n_orders AS DOUBLE) - CAST(t.t AS DOUBLE) * b.benford_frac)
         * (CAST(c.n_orders AS DOUBLE) - CAST(t.t AS DOUBLE) * b.benford_frac)
         / (CAST(t.t AS DOUBLE) * b.benford_frac) AS chi2_term
FROM counts c JOIN bench b USING (digit) CROSS JOIN tot t
"""


# robust daily-revenue anomaly (round 5): q129's trailing-window
# detector with MEDIAN/MAD instead of mean/sigma — robust to the very
# outliers it hunts (one bad day cannot inflate its own threshold).
# The trailing-7 frame is collected as a LIST and array_sort'ed
# (collect order is frame-order-unstable; sorting makes it
# irrelevant), so median and MAD are EXACT INTEGER selections — the
# anomaly inequality |y − med| > 3·MAD never touches a float. Day
# grain per region, bounded regardless of fact volume.

def q196_revenue_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    daily = _region_daily_revenue(spark, sf)
    w = (
        Window.partitionBy("region")
        .orderBy("x")
        .rowsBetween(-7, -1)
    )
    arr = F.array_sort(F.collect_list("y").over(w))
    scored = daily.select(
        "region",
        F.col("x").cast("bigint").alias("day_index"),
        F.col("y").cast("bigint").alias("y_cents"),
        arr.alias("__w"),
    ).filter(F.size("__w") >= 3)
    k = F.expr("CAST((size(__w) + 1) div 2 AS INT)")
    med = F.element_at(F.col("__w"), k)
    devs = F.array_sort(
        F.transform(F.col("__w"), lambda v: F.abs(v - med))
    )
    mad = F.element_at(devs, k)
    out = scored.select(
        "region",
        "day_index",
        "y_cents",
        med.cast("bigint").alias("med_cents"),
        mad.cast("bigint").alias("mad_cents"),
    )
    return out.filter(
        F.abs(F.col("y_cents") - F.col("med_cents"))
        > 3 * F.col("mad_cents")
    )


Q196_SQL = f"""
WITH daily AS ({_TREND_DAILY_SQL}),
scored AS (
  SELECT region, CAST(x AS BIGINT) AS day_index, CAST(y AS BIGINT) AS y_cents,
         list_sort(list(y) OVER (PARTITION BY region ORDER BY x
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS w
  FROM daily
), stats AS (
  SELECT region, day_index, y_cents,
         CAST(w[(len(w) + 1) // 2] AS BIGINT) AS med_cents,
         CAST(list_sort(list_transform(w, v -> abs(v - w[(len(w) + 1) // 2])))
              [(len(w) + 1) // 2] AS BIGINT) AS mad_cents
  FROM scored WHERE len(w) >= 3
)
SELECT region, day_index, y_cents, med_cents, mad_cents
FROM stats
WHERE abs(y_cents - med_cents) > 3 * mad_cents
"""


# BM25-lite keyword search (round 5): top-10 documents for a fixed
# two-term query with BM25 term saturation and length normalization —
# the IR scorer next to q76's TF-IDF terms. The idf is the LOG-FREE
# odds form (N−df+0.5)/(df+0.5) (engine libm log is banned; the odds
# ratio orders identically), and the per-document score is ONE fixed
# double expression over conditional-agg term counts — never a SUM of
# per-term doubles, whose partial-agg combine order is partition-
# dependent. The rank window orders only MATCHED documents (posting-
# list-bounded, not corpus-bounded).

def q197_keyword_search(
    spark: SparkSession, sf: str, t1: str = "data", t2: str = "stream"
) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id", T.tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.size(F.filter("toks", lambda t: t == F.lit(t1)))
        .cast("bigint")
        .alias("tf1"),
        F.size(F.filter("toks", lambda t: t == F.lit(t2)))
        .cast("bigint")
        .alias("tf2"),
    )
    # persisted: base feeds the corpus stats and the candidate scoring
    base = base.persist()
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        F.sum(F.when(F.col("tf1") > 0, 1).otherwise(0)).alias("df1"),
        F.sum(F.when(F.col("tf2") > 0, 1).otherwise(0)).alias("df2"),
    )
    j = base.filter((F.col("tf1") > 0) | (F.col("tf2") > 0)).crossJoin(
        F.broadcast(stats)
    )
    nd = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / nd
    k1, b = F.lit(1.2), F.lit(0.75)

    def part(tf: str, df: str) -> Column:
        tfd = F.col(tf).cast("double")
        idf = (nd - F.col(df).cast("double") + F.lit(0.5)) / (
            F.col(df).cast("double") + F.lit(0.5)
        )
        norm = (
            tfd
            * (k1 + F.lit(1.0))
            / (
                tfd
                + k1
                * (
                    F.lit(1.0)
                    - b
                    + b * F.col("dl").cast("double") / avgdl
                )
            )
        )
        return idf * norm

    scored = j.select(
        "doc_id",
        "dl",
        "tf1",
        "tf2",
        (part("tf1", "df1") + part("tf2", "df2")).alias("score"),
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
    )


Q197_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS dl,
         CAST(len(list_filter(t, x -> x = 'data')) AS BIGINT) AS tf1,
         CAST(len(list_filter(t, x -> x = 'stream')) AS BIGINT) AS tf2
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               x -> x <> '') AS t
    FROM documents
  )
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM base
), scored AS (
  SELECT b.doc_id, b.dl, b.tf1, b.tf2,
         ((CAST(s.n_docs AS DOUBLE) - CAST(s.df1 AS DOUBLE) + 0.5)
            / (CAST(s.df1 AS DOUBLE) + 0.5))
           * (CAST(b.tf1 AS DOUBLE) * (1.2 + 1.0)
              / (CAST(b.tf1 AS DOUBLE)
                 + 1.2 * (1.0 - 0.75
                          + 0.75 * CAST(b.dl AS DOUBLE)
                            / (CAST(s.sum_dl AS DOUBLE)
                               / CAST(s.n_docs AS DOUBLE)))))
         + ((CAST(s.n_docs AS DOUBLE) - CAST(s.df2 AS DOUBLE) + 0.5)
              / (CAST(s.df2 AS DOUBLE) + 0.5))
           * (CAST(b.tf2 AS DOUBLE) * (1.2 + 1.0)
              / (CAST(b.tf2 AS DOUBLE)
                 + 1.2 * (1.0 - 0.75
                          + 0.75 * CAST(b.dl AS DOUBLE)
                            / (CAST(s.sum_dl AS DOUBLE)
                               / CAST(s.n_docs AS DOUBLE)))))
           AS score
  FROM base b CROSS JOIN stats s
  WHERE b.tf1 > 0 OR b.tf2 > 0
)
SELECT doc_id, dl, tf1, tf2, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM scored
QUALIFY rnk <= 10
"""


# bucket-skew audit (round 5): before committing a bucketed layout
# (q85's z-order, sinks.py's bucketed serving tables), measure how the
# proposed key actually distributes — rows per md5-bucket, the
# max/avg skew factor a straggler analysis starts from. Exact integer
# histogram, one double ratio at the end.

def q198_bucket_skew_audit(
    spark: SparkSession, sf: str, n_buckets: int = 64
) -> DataFrame:
    from ..functions.sampling import hash_bucket

    li = _li(spark, sf)
    hist = li.groupBy(
        hash_bucket(F.col("l_orderkey"), n_buckets).alias("bucket")
    ).agg(F.count("*").alias("n_rows"))
    agg = hist.agg(
        F.count("*").cast("bigint").alias("n_buckets_used"),
        F.min("n_rows").cast("bigint").alias("min_rows"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
        F.sum("n_rows").alias("__tot"),
    )
    avg = F.col("__tot").cast("double") / F.col("n_buckets_used").cast(
        "double"
    )
    return agg.select(
        "n_buckets_used",
        "min_rows",
        "max_rows",
        avg.alias("avg_rows"),
        (F.col("max_rows").cast("double") / avg).alias("skew_factor"),
    )


Q198_SQL = """
WITH hist AS (
  SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 64 AS bucket,
         count(*) AS n_rows
  FROM lineitem GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets_used,
         CAST(min(n_rows) AS BIGINT) AS min_rows,
         CAST(max(n_rows) AS BIGINT) AS max_rows,
         CAST(sum(n_rows) AS BIGINT) AS tot
  FROM hist
)
SELECT n_buckets_used, min_rows, max_rows,
       CAST(tot AS DOUBLE) / CAST(n_buckets_used AS DOUBLE) AS avg_rows,
       CAST(max_rows AS DOUBLE)
         / (CAST(tot AS DOUBLE) / CAST(n_buckets_used AS DOUBLE))
         AS skew_factor
FROM agg
"""


# multi-grain reconciliation audit (round 5): the same grand total
# computed through THREE independent paths — direct lineitem sum,
# per-brand rollup re-summed, per-month rollup re-summed — with
# equality booleans. The data-engineering "do the dashboards agree"
# check; every path keeps EXACT decimal sums to the end (rounding
# per-group before re-summing would make the paths legitimately
# disagree — the audit rounds ONCE, after agreement is established).

def q199_reconciliation_audit(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    orders = _ord(spark, sf)
    direct = li.agg(F.sum(_rev()).alias("t_direct"))
    by_brand = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum(_rev()).alias("s"))
        .agg(F.sum("s").alias("t_brand"))
    )
    by_month = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.trunc("o_orderdate", "month").alias("m"))
        .agg(F.sum(_rev()).alias("s"))
        .agg(F.sum("s").alias("t_month"))
    )
    j = direct.crossJoin(by_brand).crossJoin(by_month)
    return j.select(
        _dec2(F.col("t_direct")).cast("double").alias("total_revenue"),
        (F.col("t_direct") == F.col("t_brand")).alias("brand_path_ok"),
        (F.col("t_direct") == F.col("t_month")).alias("month_path_ok"),
        (
            (F.col("t_direct") == F.col("t_brand"))
            & (F.col("t_direct") == F.col("t_month"))
        ).alias("reconciled"),
    )


Q199_SQL = f"""
WITH direct AS (SELECT sum({_REV}) AS t_direct FROM lineitem),
by_brand AS (
  SELECT sum(s) AS t_brand FROM (
    SELECT p.p_brand, sum({_REV}) AS s
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
  )
),
by_month AS (
  SELECT sum(s) AS t_month FROM (
    SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS m,
           sum({_REV}) AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
  )
)
SELECT CAST({_sql_dec2("t_direct")} AS DOUBLE) AS total_revenue,
       t_direct = t_brand AS brand_path_ok,
       t_direct = t_month AS month_path_ok,
       t_direct = t_brand AND t_direct = t_month AS reconciled
FROM direct CROSS JOIN by_brand CROSS JOIN by_month
"""


# corpus release-readiness check (round 5): the AUDIT face of q134's
# recipe — one row of release-gate metrics and booleans composed from
# the already-green audit family: max per-source duplicate rate
# (q109's datacard), fraction of corpus docs over the q70/q172
# contamination threshold, and the global declared-vs-detected
# language mismatch rate (q153). Each metric CALLS the component
# query's function and the oracle embeds the component's SQL, so a
# detector fix propagates to the gate on both sides. Thresholds are
# release CONFIG (dup ≤ 0.1, contamination ≤ 0.05, mismatch ≤ 0.8 —
# the last is lenient because the q21 detector is an honest heuristic
# with a measured ~0.6 disagreement rate on the synthetic corpus).

def q200_release_readiness(spark: SparkSession, sf: str) -> DataFrame:
    dup = q109_corpus_datacard(spark, sf).agg(
        F.max("dup_rate").cast("double").alias("dup_rate_max")
    )
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    cont = DD.benchmark_overlap(corpus, bench, "doc_id", "text", n=3).agg(
        (
            F.sum(
                F.when(F.col("contamination") > 0.5, 1).otherwise(0)
            ).cast("double")
            / F.count("*").cast("double")
        ).alias("contam_frac")
    )
    mism = q153_lang_mismatch_audit(spark, sf).agg(
        (
            F.sum("n_mismatch").cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("mismatch_rate")
    )
    j = dup.crossJoin(cont).crossJoin(mism)
    dup_ok = F.col("dup_rate_max") <= 0.1
    con_ok = F.col("contam_frac") <= 0.05
    lang_ok = F.col("mismatch_rate") <= 0.8
    return j.select(
        "dup_rate_max",
        "contam_frac",
        "mismatch_rate",
        dup_ok.alias("dup_ok"),
        con_ok.alias("contam_ok"),
        lang_ok.alias("lang_ok"),
        (dup_ok & con_ok & lang_ok).alias("release_ok"),
    )


Q200_SQL = f"""
WITH dup AS (
  SELECT CAST(max(dup_rate) AS DOUBLE) AS dup_rate_max
  FROM ({Q109_SQL})
), cont AS (
  SELECT CAST(sum(CASE WHEN contamination > 0.5 THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contam_frac
  FROM ({Q70_SQL})
), mism AS (
  SELECT CAST(sum(n_mismatch) AS DOUBLE) / CAST(sum(n_docs) AS DOUBLE)
           AS mismatch_rate
  FROM ({Q153_SQL})
)
SELECT dup_rate_max, contam_frac, mismatch_rate,
       dup_rate_max <= 0.1 AS dup_ok,
       contam_frac <= 0.05 AS contam_ok,
       mismatch_rate <= 0.8 AS lang_ok,
       dup_rate_max <= 0.1 AND contam_frac <= 0.05
         AND mismatch_rate <= 0.8 AS release_ok
FROM dup CROSS JOIN cont CROSS JOIN mism
"""


# double-billing exposure (round 5): q183 COUNTS the duplicate
# (orderkey, linenumber) key violations; this prices them — revenue
# carried by every row BEYOND the first of each duplicated key, the
# amount at risk if the duplicates are double-billing rather than
# intentional. Keep-first follows the module's total-order tie-break
# convention; the exposure sum stays exact decimal until one rounding
# at the report boundary.

def q201_double_billing_exposure(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        *[F.asc(c) for c in _LI_TIEBREAK]
    )
    ranked = li.withColumn("rn", F.row_number().over(w))
    extras = ranked.filter(F.col("rn") > 1)
    return extras.groupBy(F.col("l_orderkey").alias("order_key")).agg(
        F.count("*").cast("bigint").alias("n_extra_rows"),
        _dec2(F.sum(_rev())).cast("double").alias("exposure"),
    )


Q201_SQL = f"""
WITH ranked AS (
  SELECT l_orderkey, l_extendedprice, l_discount,
         row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                            ORDER BY {_LI_TIEBREAK_SQL}) AS rn
  FROM lineitem
)
SELECT l_orderkey AS order_key,
       CAST(count(*) AS BIGINT) AS n_extra_rows,
       CAST({_sql_dec2(f"sum({_REV})")} AS DOUBLE) AS exposure
FROM ranked WHERE rn > 1
GROUP BY 1
"""


# ensemble near-dup pairs (round 5): pairs flagged by BOTH the exact
# text tier (q20 ≥0.2 Jaccard) and the exact embedding tier (q33
# ≥0.40 cosine) — the precision-first review view: two independent
# modalities agreeing is the strongest duplicate signal the corpus
# offers. The first cross-modal composition: vec_id aligns with doc_id
# by testdata construction (identical id ranges — the TESTDATA
# contract). Both sides are already-green exact tiers; the join is
# pair-keyed with both (a < b)-ordered.

def q202_ensemble_neardup(spark: SparkSession, sf: str) -> DataFrame:
    text_pairs = q20_ngram_jaccard_pairs(spark, sf).select(
        "doc_a", "doc_b", F.col("jaccard").cast("double").alias("jaccard")
    )
    emb_pairs = q33_embedding_neardup(spark, sf).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("cos_sim").cast("double").alias("cos_sim"),
    )
    return text_pairs.join(emb_pairs, ["doc_a", "doc_b"])


Q202_SQL = f"""
WITH text_pairs AS ({Q20_SQL}),
emb_pairs AS ({Q33_SQL})
SELECT t.doc_a, t.doc_b, CAST(t.jaccard AS DOUBLE) AS jaccard,
       CAST(e.cos_sim AS DOUBLE) AS cos_sim
FROM text_pairs t
JOIN emb_pairs e ON t.doc_a = e.id_a AND t.doc_b = e.id_b
"""


# contingency standardized residuals (round 5): WHICH cells drive a
# source × length-quartile dependence — the drill-down q97's omnibus
# chi-square can't give. Quartile cuts are global exact nearest-rank
# thresholds (integer targets, broadcast); each cell's expected count
# under independence and its standardized residual (o−e)/√e are one
# identical double tree over exact integer margins. |resid| > 2 flags
# the cells a reviewer reads first.

def q203_contingency_residuals(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("source", "n_chars")
    # persisted: docs feeds the quartile thresholds and the cell counts
    docs = docs.persist()
    # quartile thresholds via exact nearest-rank over the bounded
    # distinct-length grain (lengths collapse the doc grain; the rank
    # runs on |distinct lengths| rows, cumsum carries the multiplicity)
    lengths = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    wl = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = lengths.withColumn("cum", F.sum("cnt").over(wl))
    tot = docs.agg(F.count("*").alias("n_tot"))
    thr = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "n_chars",
            "cum",
            "n_tot",
        )
    )

    def cut(q_num: int) -> Column:
        # smallest length whose cumulative count reaches ceil(q·n/4) —
        # integer div (Python/Spark `/` on ints is DOUBLE division)
        return F.min(
            F.when(
                F.expr(f"cum >= (n_tot * {q_num} + 3) div 4"),
                F.col("n_chars"),
            )
        )

    cuts = thr.agg(
        cut(1).alias("c1"), cut(2).alias("c2"), cut(3).alias("c3")
    )
    staged = docs.crossJoin(F.broadcast(cuts)).select(
        "source",
        F.when(F.col("n_chars") <= F.col("c1"), 1)
        .when(F.col("n_chars") <= F.col("c2"), 2)
        .when(F.col("n_chars") <= F.col("c3"), 3)
        .otherwise(4)
        .alias("quartile"),
    )
    cells = staged.groupBy("source", "quartile").agg(
        F.count("*").cast("bigint").alias("observed")
    )
    row_m = staged.groupBy("source").agg(F.count("*").alias("n_row"))
    col_m = staged.groupBy("quartile").agg(F.count("*").alias("n_col"))
    j = (
        cells.join(F.broadcast(row_m), "source")
        .join(F.broadcast(col_m), "quartile")
        .crossJoin(F.broadcast(tot))
    )
    expect = (
        F.col("n_row").cast("double")
        * F.col("n_col").cast("double")
        / F.col("n_tot").cast("double")
    )
    resid = (F.col("observed").cast("double") - expect) / F.sqrt(expect)
    return j.select(
        "source",
        F.col("quartile").cast("int").alias("quartile"),
        "observed",
        expect.alias("expected"),
        resid.alias("std_resid"),
        (F.abs(resid) > 2.0).alias("flagged"),
    )


Q203_SQL = """
WITH docs AS (SELECT source, n_chars FROM documents),
lengths AS (SELECT n_chars, count(*) AS cnt FROM docs GROUP BY 1),
cum AS (
  SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM lengths
), tot AS (SELECT count(*) AS n_tot FROM docs),
cuts AS (
  SELECT min(CASE WHEN cum >= (n_tot * 1 + 3) // 4 THEN n_chars END) AS c1,
         min(CASE WHEN cum >= (n_tot * 2 + 3) // 4 THEN n_chars END) AS c2,
         min(CASE WHEN cum >= (n_tot * 3 + 3) // 4 THEN n_chars END) AS c3
  FROM cum CROSS JOIN tot
), staged AS (
  SELECT source,
         CASE WHEN n_chars <= c1 THEN 1
              WHEN n_chars <= c2 THEN 2
              WHEN n_chars <= c3 THEN 3
              ELSE 4 END AS quartile
  FROM docs CROSS JOIN cuts
), cells AS (
  SELECT source, quartile, CAST(count(*) AS BIGINT) AS observed
  FROM staged GROUP BY 1, 2
), row_m AS (SELECT source, count(*) AS n_row FROM staged GROUP BY 1),
col_m AS (SELECT quartile, count(*) AS n_col FROM staged GROUP BY 1)
SELECT c.source, CAST(c.quartile AS INT) AS quartile, c.observed,
       CAST(r.n_row AS DOUBLE) * CAST(q.n_col AS DOUBLE)
         / CAST(t.n_tot AS DOUBLE) AS expected,
       (CAST(c.observed AS DOUBLE)
          - CAST(r.n_row AS DOUBLE) * CAST(q.n_col AS DOUBLE)
            / CAST(t.n_tot AS DOUBLE))
         / sqrt(CAST(r.n_row AS DOUBLE) * CAST(q.n_col AS DOUBLE)
                / CAST(t.n_tot AS DOUBLE)) AS std_resid,
       abs((CAST(c.observed AS DOUBLE)
              - CAST(r.n_row AS DOUBLE) * CAST(q.n_col AS DOUBLE)
                / CAST(t.n_tot AS DOUBLE))
           / sqrt(CAST(r.n_row AS DOUBLE) * CAST(q.n_col AS DOUBLE)
                  / CAST(t.n_tot AS DOUBLE))) > 2.0 AS flagged
FROM cells c
JOIN row_m r USING (source)
JOIN col_m q USING (quartile)
CROSS JOIN tot t
"""


# 4-4-5 fiscal calendar rollup (round 5): the retail-BI calendar the
# reference's date dimension (F7-F10) stops short of — fiscal year
# starts Feb 1, weeks are integer day-offsets from the FY start, the
# 4-4-5 pattern maps week-in-quarter to period (weeks 1-4 → P1,
# 5-8 → P2, 9-13 → P3; week 53 folds into P12). Everything is integer
# date arithmetic — no locale, no week-of-year function (ISO vs US
# week rules differ between engines; day-offset // 7 does not).
# Scale: fiscal columns are narrow per-order exprs; the lineitem join
# is the standard fact-fact shuffle on orderkey that AQE re-plans.

def q204_fiscal_calendar(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf).select("o_orderkey", "o_orderdate")
    o = o.withColumn(
        "fy",
        F.when(F.month("o_orderdate") >= 2, F.year("o_orderdate")).otherwise(
            F.year("o_orderdate") - 1
        ),
    )
    o = o.withColumn("fy_start", F.make_date("fy", F.lit(2), F.lit(1)))
    o = o.withColumn(
        "wk",
        F.least(F.lit(53), F.expr("datediff(o_orderdate, fy_start) div 7 + 1")),
    )
    o = o.withColumn("fq", F.least(F.lit(4), F.expr("(wk - 1) div 13 + 1")))
    o = o.withColumn(
        "fp",
        F.expr(
            "3 * (fq - 1) + CASE WHEN wk - 13 * (fq - 1) <= 4 THEN 1 "
            "WHEN wk - 13 * (fq - 1) <= 8 THEN 2 ELSE 3 END"
        ),
    )
    li = _li(spark, sf).select("l_orderkey", _rev().alias("rev"))
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy(
        F.col("fy").cast("int").alias("fy"),
        F.col("fq").cast("int").alias("fq"),
        F.col("fp").cast("int").alias("fp"),
    ).agg(
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.count("*").cast("bigint").alias("n_rows"),
        _dec2(F.sum("rev")).cast("double").alias("revenue"),
    )


Q204_SQL = f"""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
         CASE WHEN month(CAST(o_orderdate AS DATE)) >= 2
              THEN year(CAST(o_orderdate AS DATE))
              ELSE year(CAST(o_orderdate AS DATE)) - 1 END AS fy
  FROM orders
), f AS (
  SELECT o_orderkey, fy,
         least(53, datediff('day', make_date(fy, 2, 1), od) // 7 + 1) AS wk
  FROM o
), g AS (
  SELECT o_orderkey, fy, wk, least(4, (wk - 1) // 13 + 1) AS fq FROM f
), h AS (
  SELECT o_orderkey, fy, fq,
         3 * (fq - 1) + CASE WHEN wk - 13 * (fq - 1) <= 4 THEN 1
                             WHEN wk - 13 * (fq - 1) <= 8 THEN 2
                             ELSE 3 END AS fp
  FROM g
)
SELECT CAST(fy AS INT) AS fy, CAST(fq AS INT) AS fq, CAST(fp AS INT) AS fp,
       CAST(count(DISTINCT h.o_orderkey) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST({_sql_dec2(f"sum({_REV})")} AS DOUBLE) AS revenue
FROM lineitem l JOIN h ON l.l_orderkey = h.o_orderkey
GROUP BY 1, 2, 3
"""


# multi-touch attribution (round 5): q46 attributes each purchase to
# ONE as-of click; this scores every click/view touch in the 7-day
# lookback under the three classic models at once — first-touch,
# last-touch, and position stats per channel. Credits stay exact
# integer counts (a fractional 1/n linear credit would need a
# non-portable float sum); avg_rank is the single double division at
# the boundary. Scale: the touch⋈conversion join shuffles on user_id
# once and the 7-day window bounds pairs per user; both windows reuse
# the conv_id partitioning.

def q205_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
    )
    j = touch.join(conv, "user_id").filter(
        (F.col("touch_ts") < F.col("conv_ts"))
        & (F.col("touch_ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAYS"))
    )
    w = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    wc = Window.partitionBy("conv_id")
    j = j.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_touch", F.count("*").over(wc)
    )
    return j.groupBy("touch_type").agg(
        F.count("*").cast("bigint").alias("n_touch_rows"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_first"),
        F.sum(F.when(F.col("rn") == F.col("n_touch"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_last"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
        (
            F.sum("rn").cast("bigint").cast("double")
            / F.count("*").cast("double")
        ).alias("avg_rank"),
    )


Q205_SQL = """
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT event_id AS touch_id, user_id, event_type AS touch_type,
         ts AS touch_ts
  FROM events WHERE event_type IN ('click', 'view')
), j AS (
  SELECT t.touch_type, c.conv_id,
         row_number() OVER (PARTITION BY c.conv_id
                            ORDER BY t.touch_ts, t.touch_id) AS rn,
         count(*) OVER (PARTITION BY c.conv_id) AS n_touch
  FROM touch t JOIN conv c ON t.user_id = c.user_id
   AND t.touch_ts < c.conv_ts
   AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_touch_rows,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       CAST(sum(CASE WHEN rn = n_touch THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(CAST(sum(rn) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_rank
FROM j GROUP BY 1
"""


# kNN label-vote accuracy (round 5): 5-NN classification over the
# embedding table — majority label of the 5 exact-cosine nearest
# neighbors vs the vector's own label, accuracy per class. The
# standard embedding-quality eval for a labeled corpus, scored on a
# deterministic 10% holdout (vec_id % 10 = 0 — evals sample, they
# don't score the full corpus; measured 60 s → 6 s at sf0.1 full vs
# holdout). Exact brute-force on the holdout is the verification
# tier (|holdout|·n dot products, q25's position); the 100 TB path
# swaps the neighbor source for the IVF probe (q28) with this
# vote/accuracy composition unchanged. Vote tie-break:
# (count DESC, label ASC) — total per query.

def q206_knn_label_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    eval_set = emb.filter(F.col("vec_id") % 10 == 0)
    nn = SIM.knn_bruteforce(emb, eval_set, k=5)
    lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = nn.join(F.broadcast(lab), "neighbor_id").groupBy(
        "query_id", "n_label"
    ).agg(F.count("*").alias("cnt"))
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("cnt"), F.asc("n_label")
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(wv))
        .filter(F.col("pr") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    truth = eval_set.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    ).cast("bigint")
    return (
        pred.join(truth, "query_id")
        .groupBy(F.col("true_label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            correct.alias("n_correct"),
            (correct.cast("double") / F.count("*").cast("double")).alias(
                "accuracy"
            ),
        )
    )


Q206_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                  label AS true_label
           FROM embeddings WHERE vec_id % 10 = 0),
scored AS (
  SELECT q.query_id, q.true_label, e.vec_id AS neighbor_id,
         e.label AS n_label,
         list_dot_product(e.embedding::DOUBLE[], q.qv) /
           nullif(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                        e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv, q.qv)), 0.0) AS cs
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, true_label, n_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cs DESC, neighbor_id) AS rn
  FROM scored
), votes AS (
  SELECT query_id, true_label, n_label, count(*) AS cnt
  FROM ranked WHERE rn <= 5 GROUP BY 1, 2, 3
), pred AS (
  SELECT query_id, true_label, n_label AS pred_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cnt DESC, n_label) AS pr
  FROM votes
)
SELECT CAST(true_label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                 AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS accuracy
FROM pred WHERE pr = 1
GROUP BY 1
"""


# CUSUM change-point scan (round 5): where does cumulative daily
# revenue depart from its global trend — the classic mean-shift
# detector q165's per-month residuals can't localize to a day. The
# centered statistic is kept EXACT by clearing the mean's division:
# C_t = N·prefix_t − t·S_N (all decimal), so the peak flag is an
# exact-decimal comparison; the reported cusum = C_t / N is the one
# double division at the boundary. The cumulative window runs on the
# bounded DAY grain (≈2.4k rows — the q203 distinct-grain pattern),
# never on raw lineitem.

def q208_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    daily = li.groupBy(F.to_date("l_shipdate").alias("ship_day")).agg(
        _dec2(F.sum(_rev())).alias("day_rev_d")
    )
    # bounded-day grain: single-partition cumulative window is ~2.4k
    # rows at any sf (documented q203-style exception)
    w_cum = Window.orderBy("ship_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_idx = Window.orderBy("ship_day")
    cum = daily.withColumn("prefix", F.sum("day_rev_d").over(w_cum)).withColumn(
        "t_idx", F.row_number().over(w_idx).cast("bigint")
    )
    tot = daily.agg(
        F.sum("day_rev_d").alias("s_n"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    c_t = F.col("prefix") * F.col("n_days") - F.col("t_idx") * F.col("s_n")
    j = j.withColumn("c_t", c_t)
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = j.withColumn("max_abs", F.max(F.abs(F.col("c_t"))).over(w_all))
    return j.select(
        "ship_day",
        F.col("day_rev_d").cast("double").alias("day_rev"),
        (F.col("c_t").cast("double") / F.col("n_days").cast("double")).alias(
            "cusum"
        ),
        (F.abs(F.col("c_t")) == F.col("max_abs")).alias("is_peak"),
    )


Q208_SQL = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS ship_day,
         {_sql_dec2(f"sum({_REV})")} AS day_rev_d
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT ship_day, day_rev_d,
         sum(day_rev_d) OVER (ORDER BY ship_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
         CAST(row_number() OVER (ORDER BY ship_day) AS BIGINT) AS t_idx
  FROM daily
), tot AS (
  SELECT sum(day_rev_d) AS s_n, CAST(count(*) AS BIGINT) AS n_days
  FROM daily
), c AS (
  SELECT ship_day, day_rev_d, n_days,
         prefix * n_days - t_idx * s_n AS c_t
  FROM cum CROSS JOIN tot
)
SELECT ship_day,
       CAST(day_rev_d AS DOUBLE) AS day_rev,
       CAST(c_t AS DOUBLE) / CAST(n_days AS DOUBLE) AS cusum,
       abs(c_t) = max(abs(c_t)) OVER () AS is_peak
FROM c
"""


# session concurrency sweep (round 5): how many 30-minute sessions
# (q31's gap rule, composed not re-implemented) are open at once —
# the capacity metric sessionization alone can't give. Classic
# interval sweep: +1 at session start, −1 at end, running sum over
# the global endpoint order. The global cumsum is recipe.
# two_phase_running_sum sharded on the endpoint DAY (a prefix of the
# ts order — the contract), so no single-partition window exists at
# any volume; endpoints ∝ sessions, not raw events. Tie rule: starts
# sort before ends at the same instant (closed intervals — touching
# sessions count as concurrent).

def q207_session_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    sess = q31_sessionize_batch(spark, sf).select(
        "user_id", "session_no", "session_start", "session_end"
    )
    starts = sess.select(
        F.col("session_start").alias("ts"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_no",
    )
    ends = sess.select(
        F.col("session_end").alias("ts"),
        F.lit(-1).alias("delta"),
        "user_id",
        "session_no",
    )
    pts = starts.unionByName(ends)
    swept = two_phase_running_sum(
        pts,
        [],
        F.to_date("ts"),
        [
            F.col("ts").asc(),
            F.col("delta").desc(),
            F.col("user_id").asc(),
            F.col("session_no").asc(),
        ],
        "delta",
        "conc",
    )
    return swept.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_started"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ended"),
        F.max("conc").cast("bigint").alias("max_concurrent"),
    )


Q207_SQL = f"""
WITH sess AS ({Q31_SQL}),
pts AS (
  SELECT session_start AS ts, 1 AS delta, user_id, session_no FROM sess
  UNION ALL
  SELECT session_end AS ts, -1 AS delta, user_id, session_no FROM sess
), swept AS (
  SELECT ts, delta,
         sum(delta) OVER (ORDER BY ts, delta DESC, user_id, session_no
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_started,
       CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ended,
       CAST(max(conc) AS BIGINT) AS max_concurrent
FROM swept GROUP BY 1
"""


# XYZ demand-volatility classes (round 5): the inventory-planning
# companion to q169's ABC value classes — X (steady), Y (variable),
# Z (erratic) by the coefficient of variation of monthly demand.
# The CV thresholds never touch a float: cv² = (n·Σq² − S²)/S², so
# cv < 0.5 ⟺ 4·(n·Σq² − S²) < S² — an exact-decimal inequality
# (operands quantized to fixed scales so neither engine's decimal
# typing rounds: Spark caps products at precision 38 by REDUCING
# scale, DuckDB doesn't). One month-grain agg, one part-grain agg,
# one broadcast dim join.

def q209_xyz_volatility(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    monthly = li.groupBy(
        "l_partkey", F.trunc(F.to_date("l_shipdate"), "month").alias("mo")
    ).agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(12,2)")), 2)
        .cast("decimal(18,2)")
        .alias("q")
    )
    per_part = monthly.groupBy("l_partkey").agg(
        F.count("*").cast("decimal(10,0)").alias("n"),
        F.round(F.sum("q"), 2).cast("decimal(18,2)").alias("s"),
        F.round(F.sum(F.col("q") * F.col("q")), 4)
        .cast("decimal(18,4)")
        .alias("qq"),
    )
    var_num = F.col("n") * F.col("qq") - F.col("s") * F.col("s")
    classed = per_part.select(
        "l_partkey",
        "s",
        F.when(F.lit(4) * var_num < F.col("s") * F.col("s"), "X")
        .when(var_num < F.col("s") * F.col("s"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    return (
        classed.join(
            F.broadcast(part), classed.l_partkey == part.p_partkey
        )
        .groupBy(F.col("p_brand").alias("brand"), "xyz_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.round(F.sum("s"), 2)
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_qty"),
        )
    )


Q209_SQL = """
WITH monthly AS (
  SELECT l_partkey,
         date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2)
              AS DECIMAL(18,2)) AS q
  FROM lineitem GROUP BY 1, 2
), per_part AS (
  SELECT l_partkey,
         CAST(count(*) AS DECIMAL(10,0)) AS n,
         CAST(round(sum(q), 2) AS DECIMAL(18,2)) AS s,
         CAST(round(sum(q * q), 4) AS DECIMAL(18,4)) AS qq
  FROM monthly GROUP BY 1
), classed AS (
  SELECT l_partkey, s,
         CASE WHEN 4 * (n * qq - s * s) < s * s THEN 'X'
              WHEN (n * qq - s * s) < s * s THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM per_part
)
SELECT pt.p_brand AS brand, xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(CAST(round(sum(s), 2) AS DECIMAL(18,2)) AS DOUBLE) AS total_qty
FROM classed c JOIN part pt ON c.l_partkey = pt.p_partkey
GROUP BY 1, 2
"""


# frequent item TRIPLES with Apriori pruning (round 5): the L3 step
# q162's pair rules stop short of. The three-way basket self-join —
# quadratic-to-cubic if run raw — is gated the Apriori way: triple
# candidates exist only where ALL THREE sub-pairs are frequent, so
# the second join runs on frequent-pair OCCURRENCES (semi-joined
# down) and the third item is semi-join-checked against the frequent
# pair set twice. At 100 TB the pair support threshold is what keeps
# candidate volume ∝ genuinely co-bought assortments, not baskets².

def q211_frequent_triples(
    spark: SparkSession, sf: str, min_support: int = 2
) -> DataFrame:
    op = (
        _li(spark, sf).select("l_orderkey", "l_partkey").distinct().persist()
    )
    a, b = op.alias("a"), op.alias("b")
    pair_occ = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_orderkey").alias("okey"),
        F.col("a.l_partkey").alias("pa"),
        F.col("b.l_partkey").alias("pb"),
    )
    fp = (
        pair_occ.groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_support)
        .select("pa", "pb")
        .persist()
    )
    freq_occ = pair_occ.join(fp, ["pa", "pb"], "left_semi")
    c = op.alias("c")
    tri_occ = freq_occ.join(
        c,
        (F.col("okey") == F.col("c.l_orderkey"))
        & (F.col("pb") < F.col("c.l_partkey")),
    ).select("okey", "pa", "pb", F.col("c.l_partkey").alias("pc"))
    tri_occ = tri_occ.join(
        fp.select(F.col("pa").alias("pa"), F.col("pb").alias("pc")),
        ["pa", "pc"],
        "left_semi",
    ).join(
        fp.select(F.col("pa").alias("pb"), F.col("pb").alias("pc")),
        ["pb", "pc"],
        "left_semi",
    )
    tot = op.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    return (
        tri_occ.groupBy(
            F.col("pa").alias("item_a"),
            F.col("pb").alias("item_b"),
            F.col("pc").alias("item_c"),
        )
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
        .crossJoin(F.broadcast(tot))
        .select(
            "item_a",
            "item_b",
            "item_c",
            "support",
            (
                F.col("support").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("support_frac"),
        )
    )


Q211_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pair_occ AS (
  SELECT a.l_orderkey AS okey, a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), fp AS (
  SELECT pa, pb FROM pair_occ GROUP BY 1, 2 HAVING count(*) >= 2
), freq_occ AS (
  SELECT p.* FROM pair_occ p SEMI JOIN fp USING (pa, pb)
), tri_occ AS (
  SELECT f.okey, f.pa, f.pb, c.l_partkey AS pc
  FROM freq_occ f JOIN op c
    ON f.okey = c.l_orderkey AND f.pb < c.l_partkey
), pruned AS (
  SELECT t.* FROM tri_occ t
  SEMI JOIN fp f1 ON t.pa = f1.pa AND t.pc = f1.pb
  SEMI JOIN fp f2 ON t.pb = f2.pa AND t.pc = f2.pb
), tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op)
SELECT pa AS item_a, pb AS item_b, pc AS item_c,
       CAST(count(*) AS BIGINT) AS support,
       CAST(CAST(count(*) AS BIGINT) AS DOUBLE)
         / CAST(n_orders AS DOUBLE) AS support_frac
FROM pruned CROSS JOIN tot
GROUP BY pa, pb, pc, n_orders
HAVING count(*) >= 2
"""


# price/volume bridge (round 5): the finance decomposition of each
# brand's month-over-month revenue change into a volume effect
# (quantity change at LAST month's realized unit price) and a price
# effect (the residual — so the two effects reconcile to Δrevenue
# exactly, the q199 reconciliation discipline applied to a derived
# report). R and Q stay exact decimals through the lag; the effects
# are one fixed double tree per row. Lag windows partition by brand.

def q212_price_volume_bridge(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    m = j.groupBy(
        F.col("p_brand").alias("brand"),
        F.trunc(F.to_date("l_shipdate"), "month").alias("month"),
    ).agg(
        _dec2(F.sum(_rev())).alias("r"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(12,2)")), 2)
        .cast("decimal(18,2)")
        .alias("q"),
    )
    w = Window.partitionBy("brand").orderBy("month")
    m = m.withColumn("r_p", F.lag("r").over(w)).withColumn(
        "q_p", F.lag("q").over(w)
    )
    m = m.filter(F.col("r_p").isNotNull() & (F.col("q_p") > 0))
    d_rev = F.col("r").cast("double") - F.col("r_p").cast("double")
    vol = (F.col("q").cast("double") - F.col("q_p").cast("double")) * (
        F.col("r_p").cast("double") / F.col("q_p").cast("double")
    )
    return m.select(
        "brand",
        "month",
        d_rev.alias("d_rev"),
        vol.alias("vol_effect"),
        (d_rev - vol).alias("price_effect"),
    )


Q212_SQL = f"""
WITH m AS (
  SELECT pt.p_brand AS brand,
         date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {_sql_dec2(f"sum({_REV})")} AS r,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2)
              AS DECIMAL(18,2)) AS q
  FROM lineitem l JOIN part pt ON l.l_partkey = pt.p_partkey
  GROUP BY 1, 2
), lagged AS (
  SELECT brand, month, r, q,
         lag(r) OVER (PARTITION BY brand ORDER BY month) AS r_p,
         lag(q) OVER (PARTITION BY brand ORDER BY month) AS q_p
  FROM m
)
SELECT brand, CAST(month AS DATE) AS month,
       CAST(r AS DOUBLE) - CAST(r_p AS DOUBLE) AS d_rev,
       (CAST(q AS DOUBLE) - CAST(q_p AS DOUBLE))
         * (CAST(r_p AS DOUBLE) / CAST(q_p AS DOUBLE)) AS vol_effect,
       (CAST(r AS DOUBLE) - CAST(r_p AS DOUBLE))
         - (CAST(q AS DOUBLE) - CAST(q_p AS DOUBLE))
           * (CAST(r_p AS DOUBLE) / CAST(q_p AS DOUBLE)) AS price_effect
FROM lagged WHERE r_p IS NOT NULL AND q_p > 0
"""


# quantile normalization (round 5): map each source's length
# distribution onto the GLOBAL one — the cross-source calibration
# step (microarray-style quantile normalization) that makes
# per-source quality gates comparable. All integer: a doc at
# within-source rank r_hi of n_s maps to global rank
# g = ceil(r_hi·N/n_s) and takes the g-th smallest global value.
# Both sides of the mapping collapse to the DISTINCT-length grain
# first (the q203 pattern — bounded at any corpus size), so the
# interval join [lo, hi] ∋ g runs bounded × broadcast(bounded),
# never doc × grain.

def q210_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("source", "n_chars")
    docs = docs.persist()
    src_grain = docs.groupBy("source", "n_chars").agg(
        F.count("*").alias("cnt")
    )
    w_src = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    src_grain = src_grain.withColumn("r_hi", F.sum("cnt").over(w_src))
    n_src = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = docs.agg(F.count("*").alias("n_tot"))
    glob = docs.groupBy("n_chars").agg(F.count("*").alias("gcnt"))
    w_g = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    glob = glob.withColumn("hi", F.sum("gcnt").over(w_g)).withColumn(
        "lo", F.col("hi") - F.col("gcnt") + 1
    )
    staged = src_grain.join(F.broadcast(n_src), "source").crossJoin(
        F.broadcast(tot)
    )
    # ceil(r_hi·N/n_s) as pure integer arithmetic (decimal(38,0)
    # headroom at corpus scale is the documented swap)
    staged = staged.withColumn(
        "g", F.expr("(r_hi * n_tot + n_s - 1) div n_s")
    )
    g2 = F.broadcast(
        glob.select(F.col("n_chars").alias("norm_chars"), "lo", "hi")
    )
    return (
        staged.join(
            g2, (F.col("g") >= F.col("lo")) & (F.col("g") <= F.col("hi"))
        )
        .select(
            "source",
            "n_chars",
            F.col("g").cast("bigint").alias("g"),
            F.col("norm_chars").cast("bigint").alias("norm_chars"),
        )
    )


Q210_SQL = """
WITH docs AS (SELECT source, n_chars FROM documents),
src_grain AS (
  SELECT source, n_chars, count(*) AS cnt FROM docs GROUP BY 1, 2
), src_cum AS (
  SELECT source, n_chars,
         sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_hi
  FROM src_grain
), n_src AS (SELECT source, count(*) AS n_s FROM docs GROUP BY 1),
tot AS (SELECT count(*) AS n_tot FROM docs),
gdist AS (
  SELECT n_chars AS norm_chars,
         sum(count(*)) OVER (ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
         sum(count(*)) OVER (ORDER BY n_chars
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - count(*) + 1 AS lo
  FROM docs GROUP BY n_chars
), staged AS (
  SELECT s.source, s.n_chars,
         (s.r_hi * t.n_tot + n.n_s - 1) // n.n_s AS g
  FROM src_cum s JOIN n_src n USING (source) CROSS JOIN tot t
)
SELECT source, n_chars, CAST(g AS BIGINT) AS g,
       CAST(norm_chars AS BIGINT) AS norm_chars
FROM staged JOIN gdist ON g >= lo AND g <= hi
"""


# late-arriving dimension repair (round 5): the Kimball unknown-member
# pattern the reference's star needs the day a fact arrives before its
# dimension row. Simulated late dim: customers with custkey % 97 = 0
# arrive late. Phase 'initial' left-joins the on-time dim and routes
# orphans to the UNKNOWN member; phase 'repaired' re-resolves ONLY the
# orphan rows against the full dim (repair cost ∝ orphans, never a
# fact rewrite). Output reconciles per segment across phases.

def q213_unknown_member_repair(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    ontime = cust.filter(F.col("c_custkey") % 97 != 0)
    initial = o.join(
        F.broadcast(ontime), o.o_custkey == ontime.c_custkey, "left"
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
    )
    orphans = initial.filter(F.col("segment") == "UNKNOWN").drop("segment")
    repaired_orphans = orphans.join(
        F.broadcast(cust), orphans.o_custkey == cust.c_custkey, "left"
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
    )
    repaired = initial.filter(F.col("segment") != "UNKNOWN").select(
        "o_orderkey", "o_totalprice", "segment"
    ).unionByName(repaired_orphans)

    def roll(df: DataFrame, phase: str) -> DataFrame:
        return df.groupBy(F.lit(phase).alias("phase"), "segment").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            _dec2(F.sum(F.col("o_totalprice").cast("decimal(18,4)")))
            .cast("double")
            .alias("revenue"),
        )

    return roll(
        initial.select("o_orderkey", "o_totalprice", "segment"), "initial"
    ).unionByName(roll(repaired, "repaired"))


Q213_SQL = f"""
WITH ontime AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 97 <> 0
), initial AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
         coalesce(c.c_mktsegment, 'UNKNOWN') AS segment
  FROM orders o LEFT JOIN ontime c ON o.o_custkey = c.c_custkey
), repaired AS (
  SELECT o_orderkey, o_totalprice, segment FROM initial
  WHERE segment <> 'UNKNOWN'
  UNION ALL
  SELECT i.o_orderkey, i.o_totalprice,
         coalesce(c.c_mktsegment, 'UNKNOWN') AS segment
  FROM initial i LEFT JOIN customer c ON i.o_custkey = c.c_custkey
  WHERE i.segment = 'UNKNOWN'
)
SELECT 'initial' AS phase, segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST({_sql_dec2("sum(CAST(o_totalprice AS DECIMAL(18,4)))")}
            AS DOUBLE) AS revenue
FROM initial GROUP BY 1, 2
UNION ALL
SELECT 'repaired' AS phase, segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST({_sql_dec2("sum(CAST(o_totalprice AS DECIMAL(18,4)))")}
            AS DOUBLE) AS revenue
FROM repaired GROUP BY 1, 2
"""


# rarity-weighted Jaccard (round 5): q20 counts every shared shingle
# equally; here each shingle votes with its INTEGER rarity weight
# w = N_docs − df, so boilerplate shared by everything contributes
# ~0 and rare shared content dominates — the precision upgrade for
# near-dup REVIEW. Integer weights keep the sums exact (a 1/df or
# idf weight would sum floats in partition order); one double
# division at the boundary, then the q20 DECIMAL(9,6) quantize.
# Same Σdf² inverted-index verification tier as q20 — the LSH tier
# (q26) is the 100 TB candidate generator.

def q214_weighted_jaccard(
    spark: SparkSession,
    sf: str,
    threshold: float = 0.2,
    shingles: DataFrame | None = None,
) -> DataFrame:
    # `shingles`: optional prebuilt (doc_id, shingle) frame — the q243
    # tier-sharing hook (ngram_jaccard_pairs has the same parameter), so
    # the tokenize→shingle stage runs once across tiers. The frame feeds
    # TWO consumers below (wdf and shw), so it must be persisted; the
    # caller is expected to have done so (q243 has), but persist() on an
    # already-persisted frame is a no-op, so persist defensively rather
    # than leave the perf contract implicit.
    docs = load_table(spark, sf, "documents")
    sh = (
        shingles
        if shingles is not None
        else DD.shingle_sets(docs, "doc_id", "text", 3)
    ).persist()
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    wdf = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("shingle", (F.col("n_docs") - F.col("df")).alias("w"))
    )
    shw = sh.join(wdf, "shingle").persist()
    wsum = shw.groupBy("doc_id").agg(F.sum("w").alias("wsum"))
    a = shw.select(F.col("doc_id").alias("doc_a"), "shingle", "w")
    b = shw.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("w_common"))
    )
    j = (
        common.join(
            wsum.select(F.col("doc_id").alias("doc_a"), F.col("wsum").alias("wa")),
            "doc_a",
        )
        .join(
            wsum.select(F.col("doc_id").alias("doc_b"), F.col("wsum").alias("wb")),
            "doc_b",
        )
    )
    wj = (
        F.col("w_common").cast("double")
        / (F.col("wa") + F.col("wb") - F.col("w_common"))
    ).cast("decimal(9,6)")
    return (
        j.withColumn("w_jaccard", wj)
        .filter(F.col("w_jaccard") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("w_common").cast("bigint").alias("w_common"),
            "w_jaccard",
        )
    )


Q214_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), n AS (SELECT count(*) AS n_docs FROM documents),
wdf AS (
  SELECT shingle, n_docs - count(*) AS w
  FROM sh CROSS JOIN n GROUP BY shingle, n_docs
), shw AS (
  SELECT s.doc_id, s.shingle, w.w FROM sh s JOIN wdf w USING (shingle)
), wsum AS (
  SELECT doc_id, sum(w) AS wsum FROM shw GROUP BY 1
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w) AS w_common
  FROM shw a JOIN shw b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(w_common AS BIGINT) AS w_common,
       CAST(CAST(w_common AS DOUBLE)
            / (wa.wsum + wb.wsum - w_common) AS DECIMAL(9,6)) AS w_jaccard
FROM common
JOIN wsum wa ON wa.doc_id = doc_a
JOIN wsum wb ON wb.doc_id = doc_b
WHERE CAST(CAST(w_common AS DOUBLE)
           / (wa.wsum + wb.wsum - w_common) AS DECIMAL(9,6)) >= 0.2
"""


# stratified k-fold assignment (round 5): 5-fold cross-validation
# folds with EXACT per-label balance — fold = (within-label md5-rank
# − 1) mod 5, so every label's fold sizes differ by at most one (the
# guarantee q48's independent hash split cannot give). The
# within-label rank is two_phase_running_sum of ones sharded on the
# hash's first hex char — no single-partition window even when one
# label dominates the corpus.

def q217_stratified_kfold(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    emb = load_table(spark, sf, "embeddings").select("vec_id", "label")
    staged = emb.withColumn(
        "h", F.md5(F.col("vec_id").cast("string"))
    ).withColumn("one", F.lit(1))
    ranked = two_phase_running_sum(
        staged,
        ["label"],
        F.substring("h", 1, 1),
        [F.col("h").asc(), F.col("vec_id").asc()],
        "one",
        "rnk",
    )
    folds = ranked.withColumn(
        "fold", ((F.col("rnk") - 1) % 5).cast("int")
    )
    counts = folds.groupBy("fold", F.col("label").cast("int").alias("label")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    w_l = Window.partitionBy("label")
    return counts.withColumn(
        "balanced",
        (F.max("n").over(w_l) - F.min("n").over(w_l)) <= 1,
    )


Q217_SQL = """
WITH ranked AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY label
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
  FROM embeddings
), folds AS (
  SELECT CAST((rnk - 1) % 5 AS INT) AS fold, CAST(label AS INT) AS label
  FROM ranked
), counts AS (
  SELECT fold, label, CAST(count(*) AS BIGINT) AS n
  FROM folds GROUP BY 1, 2
)
SELECT fold, label, n,
       max(n) OVER (PARTITION BY label)
         - min(n) OVER (PARTITION BY label) <= 1 AS balanced
FROM counts
"""


# skew rebalance plan (round 5): q198 AUDITS bucket skew; this emits
# the REPAIR — per heavy join key, the salting split factor that
# brings every sub-shard under the per-task cap (cap = ceil(total /
# 1000) rows — the "1000 healthy tasks" sizing rule). Feeds
# operators/skew.py's salted join. Pure integer arithmetic:
# split_factor = ceil(load / cap), max_shard_load = ceil(load /
# split_factor), and the plan proves itself (ok boolean) — so the
# oracle catches an off-by-one in the ceiling algebra. Output is
# heavy keys only (∝ skew, not keyspace).

def q215_rebalance_plan(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    loads = li.groupBy("l_partkey").agg(F.count("*").alias("load"))
    tot = loads.agg(F.sum("load").cast("bigint").alias("total"))
    j = loads.crossJoin(F.broadcast(tot)).withColumn(
        "cap", F.expr("(total + 999) div 1000")
    )
    heavy = j.filter(F.col("load") > F.col("cap"))
    heavy = heavy.withColumn(
        "split_factor", F.expr("(load + cap - 1) div cap")
    ).withColumn(
        "max_shard_load", F.expr("(load + split_factor - 1) div split_factor")
    )
    return heavy.select(
        F.col("l_partkey").alias("part_key"),
        F.col("load").cast("bigint").alias("load"),
        F.col("cap").cast("bigint").alias("cap"),
        F.col("split_factor").cast("bigint").alias("split_factor"),
        F.col("max_shard_load").cast("bigint").alias("max_shard_load"),
        (F.col("max_shard_load") <= F.col("cap")).alias("ok"),
    )


Q215_SQL = """
WITH loads AS (
  SELECT l_partkey, count(*) AS load FROM lineitem GROUP BY 1
), tot AS (SELECT CAST(sum(load) AS BIGINT) AS total FROM loads),
j AS (
  SELECT l_partkey, load, (total + 999) // 1000 AS cap
  FROM loads CROSS JOIN tot
), heavy AS (
  SELECT l_partkey, load, cap,
         (load + cap - 1) // cap AS split_factor
  FROM j WHERE load > cap
)
SELECT l_partkey AS part_key,
       CAST(load AS BIGINT) AS load,
       CAST(cap AS BIGINT) AS cap,
       CAST(split_factor AS BIGINT) AS split_factor,
       CAST((load + split_factor - 1) // split_factor AS BIGINT)
         AS max_shard_load,
       (load + split_factor - 1) // split_factor <= cap AS ok
FROM heavy
"""


# mergeable statistics audit (round 5): incremental ANALYZE — the
# per-partition partial stats (count/sum/min/max/Σx²) each source
# maintains, MERGED to global, proven equal to a direct global pass.
# The merge rule is what lets 100 TB stats refresh touch only new
# partitions; the audit pins that count/sum/min/max/Σx² actually
# merge losslessly (all exact integers — a variance partial would
# need Chan's correction; keeping raw Σx² is the mergeable form).

def q216_stats_merge_audit(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("source", "n_chars")
    docs = docs.persist()
    partials = docs.groupBy("source").agg(
        F.count("*").alias("p_n"),
        F.sum("n_chars").alias("p_sum"),
        F.min("n_chars").alias("p_min"),
        F.max("n_chars").alias("p_max"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("p_sumsq"),
    )
    merged = partials.agg(
        F.sum("p_n").cast("bigint").alias("n_merged"),
        F.sum("p_sum").cast("bigint").alias("sum_merged"),
        F.min("p_min").cast("bigint").alias("min_merged"),
        F.max("p_max").cast("bigint").alias("max_merged"),
        F.sum("p_sumsq").cast("bigint").alias("sumsq_merged"),
    )
    direct = docs.agg(
        F.count("*").cast("bigint").alias("n_direct"),
        F.sum("n_chars").cast("bigint").alias("sum_direct"),
        F.min("n_chars").cast("bigint").alias("min_direct"),
        F.max("n_chars").cast("bigint").alias("max_direct"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("sumsq_direct"),
    )
    out = merged.crossJoin(F.broadcast(direct))
    return out.withColumn(
        "all_equal",
        (F.col("n_merged") == F.col("n_direct"))
        & (F.col("sum_merged") == F.col("sum_direct"))
        & (F.col("min_merged") == F.col("min_direct"))
        & (F.col("max_merged") == F.col("max_direct"))
        & (F.col("sumsq_merged") == F.col("sumsq_direct")),
    )


Q216_SQL = """
WITH partials AS (
  SELECT source, count(*) AS p_n, sum(n_chars) AS p_sum,
         min(n_chars) AS p_min, max(n_chars) AS p_max,
         sum(n_chars * n_chars) AS p_sumsq
  FROM documents GROUP BY 1
), merged AS (
  SELECT CAST(sum(p_n) AS BIGINT) AS n_merged,
         CAST(sum(p_sum) AS BIGINT) AS sum_merged,
         CAST(min(p_min) AS BIGINT) AS min_merged,
         CAST(max(p_max) AS BIGINT) AS max_merged,
         CAST(sum(p_sumsq) AS BIGINT) AS sumsq_merged
  FROM partials
), direct AS (
  SELECT CAST(count(*) AS BIGINT) AS n_direct,
         CAST(sum(n_chars) AS BIGINT) AS sum_direct,
         CAST(min(n_chars) AS BIGINT) AS min_direct,
         CAST(max(n_chars) AS BIGINT) AS max_direct,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS sumsq_direct
  FROM documents
)
SELECT m.*, d.*,
       n_merged = n_direct AND sum_merged = sum_direct
         AND min_merged = min_direct AND max_merged = max_direct
         AND sumsq_merged = sumsq_direct AS all_equal
FROM merged m CROSS JOIN direct d
"""


# equi-depth histogram (round 5): the CBO statistic q62's equi-WIDTH
# histogram can't give — 10 buckets of equal row depth over order
# value cents, boundaries at integer nearest-ranks. Runs on the
# DISTINCT-cents grain (q203 pattern); the grain's cumulative count
# is two_phase_running_sum value-range-sharded on the $1000 band of
# the cents value (a prefix of the cents order — the contract), so
# no single-partition window even over a wide price domain. A
# distinct value is assigned wholly to the bucket of its LAST rank
# (depths equal up to value multiplicity — the standard compromise).

def q218_equidepth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    o = _ord(spark, sf)
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    grain = o.select(cents).groupBy("cents").agg(F.count("*").alias("cnt"))
    cum = two_phase_running_sum(
        grain,
        [],
        F.expr("cents div 100000"),
        [F.col("cents").asc()],
        "cnt",
        "r_hi",
    )
    tot = grain.agg(F.sum("cnt").cast("bigint").alias("n_tot"))
    bucketed = cum.crossJoin(F.broadcast(tot)).withColumn(
        "bucket", F.expr("((r_hi - 1) * 10) div n_tot").cast("int")
    )
    return bucketed.groupBy("bucket").agg(
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
        F.sum("cnt").cast("bigint").alias("depth"),
    )


Q218_SQL = """
WITH grain AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         count(*) AS cnt
  FROM orders GROUP BY 1
), cum AS (
  SELECT cents, cnt,
         sum(cnt) OVER (ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_hi
  FROM grain
), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tot FROM grain)
SELECT CAST(((r_hi - 1) * 10) // n_tot AS INT) AS bucket,
       CAST(min(cents) AS BIGINT) AS lo_cents,
       CAST(max(cents) AS BIGINT) AS hi_cents,
       CAST(sum(cnt) AS BIGINT) AS depth
FROM cum CROSS JOIN tot
GROUP BY 1
"""


# user lifecycle states (round 5): the growth-accounting state
# machine — per week, how many users are new / retained /
# resurrected / churned / dormant. Week = integer day-offset // 7
# from the stream epoch (engine week-of-year rules differ; integer
# arithmetic doesn't). The user×week spine is bounded by
# |users| × |weeks|, built from each user's first week forward;
# lag over the per-user spine gives the previous week's activity.
# Per-user windows partition on user_id — the natural key, no skew.

def q219_user_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    uw = (
        ev.select(
            "user_id",
            F.expr(
                "datediff(to_date(ts), DATE '2024-01-01') div 7"
            ).alias("week"),
        )
        .distinct()
        .persist()
    )
    fw = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    weeks = uw.select("week").distinct()
    spine = fw.join(
        F.broadcast(weeks), F.col("week") >= F.col("first_week")
    )
    active = uw.withColumn("is_active", F.lit(True))
    flagged = spine.join(active, ["user_id", "week"], "left").withColumn(
        "act", F.coalesce(F.col("is_active"), F.lit(False))
    )
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = flagged.withColumn("prev_act", F.lag("act").over(w))
    state = (
        F.when(F.col("week") == F.col("first_week"), "new")
        .when(F.col("act") & F.col("prev_act"), "retained")
        .when(F.col("act") & ~F.col("prev_act"), "resurrected")
        .when(~F.col("act") & F.col("prev_act"), "churned")
        .otherwise("dormant")
    )
    return (
        flagged.withColumn("state", state)
        .groupBy(F.col("week").cast("int").alias("week"), "state")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


Q219_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '2024-01-01',
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) // 7
           AS week
  FROM events
), fw AS (
  SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1
), weeks AS (SELECT DISTINCT week FROM uw),
spine AS (
  SELECT f.user_id, f.first_week, w.week
  FROM fw f JOIN weeks w ON w.week >= f.first_week
), flagged AS (
  SELECT s.user_id, s.first_week, s.week,
         coalesce(u.user_id IS NOT NULL, FALSE) AS act
  FROM spine s LEFT JOIN uw u
    ON s.user_id = u.user_id AND s.week = u.week
), lagged AS (
  SELECT *,
         lag(act) OVER (PARTITION BY user_id ORDER BY week) AS prev_act
  FROM flagged
)
SELECT CAST(week AS INT) AS week,
       CASE WHEN week = first_week THEN 'new'
            WHEN act AND prev_act THEN 'retained'
            WHEN act AND NOT prev_act THEN 'resurrected'
            WHEN NOT act AND prev_act THEN 'churned'
            ELSE 'dormant' END AS state,
       CAST(count(*) AS BIGINT) AS n_users
FROM lagged
GROUP BY 1, 2
"""


# product-quantization ANN (round 5): the compressed-codes tier of
# the similarity stack (exact q25/q33 → IVF q28 → sign-LSH q69 →
# PQ) — operators/pq.py trains m=8 per-subspace integer codebooks,
# encodes every vector into one packed bigint, and answers queries
# with 8 table lookups instead of 64 multiplies; at 100 TB the code
# table is ~1/32 the embedding bytes and scan-scored without touching
# vectors. The synthetic table has no true near neighbors (q69's
# finding), so the query PLANTS a near-identical twin per vector
# (+0.01 per element, ids offset by n) and reports, per eval query
# (vec_id % 10 = 0): ADC/exact best ids, ADC-vs-exact overlap@10,
# and whether ADC rank-1 recovered the planted twin (eval set
# vec_id % 20 = 0 — measured 15.4 s → ~8 s at sf0.1). Integer Lloyd
# (clustering.py discipline) makes every number deterministic, but
# recall < 1 by construction → rows-only (q136's IVF position).

def q220_pq_ann(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.pq import pq_adc_recall

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()  # dimension-scale scalar: offsets the planted ids
    planted = emb.select(
        (F.col("vec_id") + F.lit(n)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias(
            "embedding"
        ),
    )
    out = pq_adc_recall(
        emb.unionByName(planted),
        (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < n),
        m=8,
        k=16,
        iters=2,
    )
    return out.withColumn(
        "found_planted", F.col("adc_best") == F.col("query_id") + F.lit(n)
    )


# backfill restatement report (round 5): when late-arriving facts
# (ship > order date + 60 d — the rows a daily load would miss) land,
# which months RESTATE and by how much — the report a finance user
# demands before trusting incremental loads. rev_initial excludes
# late rows, rev_final includes them; both from ONE scan via
# conditional aggregation (never two passes), exact decimal until the
# boundary.

def q221_backfill_restatement(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_day"), _rev().alias("rev")
    )
    o = _ord(spark, sf).select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    late = F.col("ship_day") > F.date_add(F.col("o_orderdate"), 60)
    month = F.trunc("o_orderdate", "month")
    return j.groupBy(month.alias("month")).agg(
        _dec2(F.sum(F.when(~late, F.col("rev")).otherwise(F.lit(0))))
        .cast("double")
        .alias("rev_initial"),
        _dec2(F.sum("rev")).cast("double").alias("rev_final"),
        _dec2(F.sum(F.when(late, F.col("rev")).otherwise(F.lit(0))))
        .cast("double")
        .alias("restated"),
        F.sum(late.cast("int")).cast("bigint").alias("n_late_rows"),
    )


Q221_SQL = f"""
WITH j AS (
  SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS month,
         CAST(l.l_shipdate AS DATE)
           > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY AS late,
         {_REV} AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT CAST(month AS DATE) AS month,
       CAST({_sql_dec2("sum(CASE WHEN NOT late THEN rev ELSE 0 END)")}
            AS DOUBLE) AS rev_initial,
       CAST({_sql_dec2("sum(rev)")} AS DOUBLE) AS rev_final,
       CAST({_sql_dec2("sum(CASE WHEN late THEN rev ELSE 0 END)")}
            AS DOUBLE) AS restated,
       CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late_rows
FROM j GROUP BY 1
"""


# dedup tier cost model (round 5): BEFORE running near-dup at 100 TB,
# which tier can we afford? The exact tier's candidate volume is
# Σ_sh df·(df−1)/2 (the q20/q214 inverted-index join size) — this
# query computes it from the shingle-df histogram, alongside the same
# sum under a max_df=32 stop-shingle filter (operators/dedup.py
# max_df_filter) and the LSH tier's linear costs (n_docs signatures,
# n_docs·16 band rows). The planning numbers that justify the knob:
# all exact integers, one row.

def q222_dedup_cost_model(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    sh = DD.shingle_sets(docs, "doc_id", "text", 3)
    dfh = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    # df·(df−1) is even → integer div is exact (a `/` would sum
    # DOUBLES in partition order — the banned float sum)
    pairs = F.expr("df * (df - 1) div 2")
    agg = dfh.agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum("df").cast("bigint").alias("n_postings"),
        F.max("df").cast("bigint").alias("max_df"),
        F.sum(pairs).cast("bigint").alias("exact_candidates"),
        F.sum(F.when(F.col("df") <= 32, pairs).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("candidates_maxdf32"),
    )
    out = agg.crossJoin(F.broadcast(n_docs))
    return out.select(
        "n_docs",
        "n_shingles",
        "n_postings",
        "max_df",
        "exact_candidates",
        "candidates_maxdf32",
        (F.col("n_docs") * 16).cast("bigint").alias("lsh_band_rows"),
    )


Q222_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '')
           AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, LATERAL (
    SELECT unnest(list_transform(
        generate_series(1, greatest(len(t) - 2, 1)),
        i -> array_to_string(t[i:i+2], ' '))) AS shingle
  )
), dfh AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY 1
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT n_docs,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(df) AS BIGINT) AS n_postings,
       CAST(max(df) AS BIGINT) AS max_df,
       CAST(sum(df * (df - 1) // 2) AS BIGINT) AS exact_candidates,
       CAST(sum(CASE WHEN df <= 32 THEN df * (df - 1) // 2 ELSE 0 END)
            AS BIGINT) AS candidates_maxdf32,
       CAST(n_docs * 16 AS BIGINT) AS lsh_band_rows
FROM dfh CROSS JOIN n
GROUP BY n_docs
"""


# SLA attainment (round 5): the rate readout over q60's late-order
# list — per (order priority, month), what fraction shipped its FIRST
# line within 30 days. First-ship per order is a min-agg, attainment
# a conditional count, the rate one boundary division.

def q223_sla_attainment(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    o = _ord(spark, sf).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    attained = F.datediff("first_ship", "o_orderdate") <= 30
    return j.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.trunc("o_orderdate", "month").alias("month"),
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(attained.cast("int")).cast("bigint").alias("n_attained"),
        (
            F.sum(attained.cast("int")).cast("bigint").cast("double")
            / F.count("*").cast("double")
        ).alias("attainment"),
    )


Q223_SQL = """
WITH fs AS (
  SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
  FROM lineitem GROUP BY 1
), j AS (
  SELECT o.o_orderpriority AS priority,
         date_trunc('month', CAST(o.o_orderdate AS DATE)) AS month,
         datediff('day', CAST(o.o_orderdate AS DATE), fs.first_ship) <= 30
           AS attained
  FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
)
SELECT priority, CAST(month AS DATE) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN attained THEN 1 ELSE 0 END) AS BIGINT)
         AS n_attained,
       CAST(CAST(sum(CASE WHEN attained THEN 1 ELSE 0 END) AS BIGINT)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS attainment
FROM j GROUP BY 1, 2
"""


# basket diversity (round 5): how many distinct brands an order
# spans, the cross-sell readout behind q41/q88's co-purchase graph —
# histogram of orders by brand count plus average order revenue per
# diversity level (do diverse baskets spend more?). Exact counts,
# exact decimal revenue, one boundary division.

def q224_basket_diversity(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("p_brand").alias("n_brands"),
        F.sum(_rev()).alias("rev"),
    )
    return per_order.groupBy(
        F.col("n_brands").cast("int").alias("n_brands")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        _dec2(F.sum("rev")).cast("double").alias("revenue"),
        (
            _dec2(F.sum("rev")).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_order_rev"),
    )


Q224_SQL = f"""
WITH per_order AS (
  SELECT l.l_orderkey,
         count(DISTINCT p.p_brand) AS n_brands,
         sum({_REV}) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT CAST(n_brands AS INT) AS n_brands,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST({_sql_dec2("sum(rev)")} AS DOUBLE) AS revenue,
       CAST({_sql_dec2("sum(rev)")} AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_order_rev
FROM per_order GROUP BY 1
"""


# discount elasticity (round 5): does discounting move volume —
# per-brand OLS slope of quantity on discount. The regression
# sufficient statistics (n, Σx, Σy, Σxy, Σx²) are EXACT decimals at
# fixed quantized scales (the q209 discipline — Spark caps decimal
# products by reducing scale, so every partial is re-quantized before
# multiplying); slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is one double
# division at the boundary. One scan, one brand-keyed agg.

def q225_discount_elasticity(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    x = F.col("l_discount").cast("decimal(9,4)")
    y = F.col("l_quantity").cast("decimal(12,2)")
    agg = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").cast("decimal(10,0)").alias("n"),
        F.round(F.sum(x), 4).cast("decimal(18,4)").alias("sx"),
        F.round(F.sum(y), 2).cast("decimal(18,2)").alias("sy"),
        F.round(F.sum(x * y), 6).cast("decimal(18,6)").alias("sxy"),
        F.round(F.sum(x * x), 8).cast("decimal(18,8)").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return agg.select(
        "brand",
        F.col("n").cast("bigint").alias("n_rows"),
        slope.alias("slope"),
        (slope < 0).alias("elastic"),
    )


Q225_SQL = """
WITH agg AS (
  SELECT p.p_brand AS brand,
         CAST(count(*) AS DECIMAL(10,0)) AS n,
         CAST(round(sum(CAST(l_discount AS DECIMAL(9,4))), 4)
              AS DECIMAL(18,4)) AS sx,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2)
              AS DECIMAL(18,2)) AS sy,
         CAST(round(sum(CAST(l_discount AS DECIMAL(9,4))
                        * CAST(l_quantity AS DECIMAL(12,2))), 6)
              AS DECIMAL(18,6)) AS sxy,
         CAST(round(sum(CAST(l_discount AS DECIMAL(9,4))
                        * CAST(l_discount AS DECIMAL(9,4))), 8)
              AS DECIMAL(18,8)) AS sxx
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT brand,
       CAST(n AS BIGINT) AS n_rows,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) < 0 AS elastic
FROM agg
"""


# cohort LTV curve (round 5): q140 counts RETENTION per cohort; this
# accumulates REVENUE — per (cohort month, months-of-age) the cohort's
# period revenue, running cumulative revenue, and LTV per user. Age is
# integer month arithmetic (year·12+month differences — no engine
# date-diff semantics); the cumulative window partitions per cohort
# over the bounded age axis. The standard payback/LTV planning curve.

def q226_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    mnum = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    o = o.select(
        "o_custkey",
        mnum.alias("mnum"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("mnum").alias("cohort_m"))
    sizes = firsts.groupBy("cohort_m").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    j = o.join(firsts, "o_custkey")
    cells = j.groupBy(
        "cohort_m", (F.col("mnum") - F.col("cohort_m")).alias("age")
    ).agg(_dec2(F.sum("price")).alias("rev_d"))
    w = Window.partitionBy("cohort_m").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cells = cells.withColumn(
        "cum_d", F.round(F.sum("rev_d").over(w), 2).cast("decimal(18,2)")
    )
    out = cells.join(F.broadcast(sizes), "cohort_m")
    return out.select(
        F.col("cohort_m").cast("int").alias("cohort_m"),
        F.col("age").cast("int").alias("age"),
        "n_users",
        F.col("rev_d").cast("double").alias("revenue"),
        F.col("cum_d").cast("double").alias("cum_revenue"),
        (F.col("cum_d").cast("double") / F.col("n_users").cast("double")).alias(
            "ltv_per_user"
        ),
    )


Q226_SQL = """
WITH o AS (
  SELECT o_custkey,
         year(CAST(o_orderdate AS DATE)) * 12
           + month(CAST(o_orderdate AS DATE)) AS mnum,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price
  FROM orders
), firsts AS (
  SELECT o_custkey, min(mnum) AS cohort_m FROM o GROUP BY 1
), sizes AS (
  SELECT cohort_m, CAST(count(*) AS BIGINT) AS n_users
  FROM firsts GROUP BY 1
), cells AS (
  SELECT f.cohort_m, o.mnum - f.cohort_m AS age,
         CAST(round(sum(o.price), 2) AS DECIMAL(18,2)) AS rev_d
  FROM o JOIN firsts f USING (o_custkey)
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_m, age, rev_d,
         CAST(round(sum(rev_d) OVER (PARTITION BY cohort_m ORDER BY age
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS DECIMAL(18,2)) AS cum_d
  FROM cells
)
SELECT CAST(cohort_m AS INT) AS cohort_m, CAST(age AS INT) AS age,
       s.n_users,
       CAST(rev_d AS DOUBLE) AS revenue,
       CAST(cum_d AS DOUBLE) AS cum_revenue,
       CAST(cum_d AS DOUBLE) / CAST(s.n_users AS DOUBLE) AS ltv_per_user
FROM cum JOIN sizes s USING (cohort_m)
"""


# top session paths (round 5): the clickstream readout — the 20 most
# common opening paths (first 3 event types of each 30-minute
# session, q31's gap rule) with session counts, distinct users, and
# share of all sessions. The per-session path is an ordered
# collect_list sorted by (ts, event_id) — a TOTAL order, so the
# string is deterministic; sessions grain bounds everything else.

def q227_session_paths(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    with_prev = ev.withColumn("prev_ts", F.lag("ts").over(w_order))
    flagged = with_prev.withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > gap_us),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(w_order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = numbered.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    1,
                    3,
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    tot = paths.agg(F.count("*").cast("bigint").alias("n_total"))
    agg = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    w_rank = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        agg.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 20)
        .crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n_sessions",
            "n_users",
            F.col("rnk").cast("int").alias("rnk"),
            (
                F.col("n_sessions").cast("double")
                / F.col("n_total").cast("double")
            ).alias("share"),
        )
    )


Q227_SQL = """
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP))
                   - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                   > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
), paths AS (
  SELECT user_id, session_no,
         array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>')
           AS path
  FROM numbered GROUP BY 1, 2
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM paths),
agg AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM paths GROUP BY 1
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rnk
  FROM agg
)
SELECT path, n_sessions, n_users, CAST(rnk AS INT) AS rnk,
       CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
FROM ranked CROSS JOIN tot
WHERE rnk <= 20
"""


# revenue decomposition with tax (round 5): the gross → discount →
# net → tax → take-home waterfall per month — the finance view of the
# _REV convention, and the first consumer of l_tax (net-of-discount
# base × tax rate, the TPC-H charge formula). Every component is an
# exact decimal sum; the reconciliation booleans (gross − discount =
# net; net + tax = charged) are exact-decimal identities, so the
# oracle would catch a scale slip in any component.

def q228_revenue_decomposition(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    ep = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(9,4)")
    tax = F.col("l_tax").cast("decimal(9,4)")
    gross = ep
    disc_amt = ep * disc
    net = ep * (F.lit(1).cast("decimal(9,4)") - disc)
    tax_amt = net * tax
    month = F.trunc(F.to_date("l_shipdate"), "month")
    agg = li.groupBy(month.alias("month")).agg(
        _dec2(F.sum(gross)).alias("gross_d"),
        _dec2(F.sum(disc_amt)).alias("discount_d"),
        _dec2(F.sum(net)).alias("net_d"),
        _dec2(F.sum(tax_amt)).alias("tax_d"),
        _dec2(F.sum(net * (F.lit(1).cast("decimal(9,4)") + tax))).alias(
            "charged_d"
        ),
    )
    return agg.select(
        "month",
        F.col("gross_d").cast("double").alias("gross"),
        F.col("discount_d").cast("double").alias("discount_amt"),
        F.col("net_d").cast("double").alias("net"),
        F.col("tax_d").cast("double").alias("tax_amt"),
        F.col("charged_d").cast("double").alias("charged"),
        (F.col("gross_d") - F.col("discount_d") == F.col("net_d")).alias(
            "net_reconciles"
        ),
        (
            F.round(F.col("net_d") + F.col("tax_d"), 2).cast("decimal(18,2)")
            == F.col("charged_d")
        ).alias("charge_reconciles"),
    )


Q228_SQL = f"""
WITH agg AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {_sql_dec2("sum(CAST(l_extendedprice AS DECIMAL(18,4)))")} AS gross_d,
         {_sql_dec2("sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(9,4)))")} AS discount_d,
         {_sql_dec2(f"sum({_REV})")} AS net_d,
         {_sql_dec2(f"sum(({_REV}) * CAST(l_tax AS DECIMAL(9,4)))")} AS tax_d,
         {_sql_dec2(f"sum(({_REV}) * (CAST(1 AS DECIMAL(9,4)) + CAST(l_tax AS DECIMAL(9,4))))")} AS charged_d
  FROM lineitem GROUP BY 1
)
SELECT CAST(month AS DATE) AS month,
       CAST(gross_d AS DOUBLE) AS gross,
       CAST(discount_d AS DOUBLE) AS discount_amt,
       CAST(net_d AS DOUBLE) AS net,
       CAST(tax_d AS DOUBLE) AS tax_amt,
       CAST(charged_d AS DOUBLE) AS charged,
       gross_d - discount_d = net_d AS net_reconciles,
       CAST(round(net_d + tax_d, 2) AS DECIMAL(18,2)) = charged_d
         AS charge_reconciles
FROM agg
"""


# language confusion matrix (round 5): q21 predicts per document;
# this is the EVAL rollup — declared × predicted counts with
# per-declared-language recall, the matrix a lang-ID reviewer reads
# before trusting the gate. Composes q21's function (Spark) and
# embeds its SQL (oracle) — the q191 anti-drift discipline.

def q229_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    pred = q21_lang_id(spark, sf)
    cells = pred.groupBy(
        F.col("lang_declared").alias("declared"),
        F.col("lang_pred").alias("predicted"),
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
    w = Window.partitionBy("declared")
    return cells.withColumn(
        "n_declared", F.sum("n_docs").over(w).cast("bigint")
    ).withColumn(
        "recall",
        F.when(
            F.col("declared") == F.col("predicted"),
            F.col("n_docs").cast("double") / F.col("n_declared").cast("double"),
        ),
    )


Q229_SQL = f"""
WITH pred AS ({Q21_SQL}),
cells AS (
  SELECT lang_declared AS declared, lang_pred AS predicted,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT declared, predicted, n_docs,
       CAST(sum(n_docs) OVER (PARTITION BY declared) AS BIGINT) AS n_declared,
       CASE WHEN declared = predicted
            THEN CAST(n_docs AS DOUBLE)
               / CAST(sum(n_docs) OVER (PARTITION BY declared) AS DOUBLE)
       END AS recall
FROM cells
"""


# share-of-total matrix (round 5): region × market-segment revenue
# with row, column, and grand shares — the percent-of-total reading
# of q203's contingency cells (q203 asks "is it independent", this
# answers "who is how big"). Exact decimal cells; the three share
# divisions are each a single double division against a broadcast
# margin.

def q230_share_matrix(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    nat = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    j = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    cells = j.groupBy(
        F.col("r_name").alias("region"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(_dec2(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))).alias("rev_d"))
    wr = Window.partitionBy("region")
    ws = Window.partitionBy("segment")
    wg = Window.partitionBy(F.lit(1))
    row_m = F.round(F.sum("rev_d").over(wr), 2).cast("decimal(18,2)")
    col_m = F.round(F.sum("rev_d").over(ws), 2).cast("decimal(18,2)")
    grand = F.round(F.sum("rev_d").over(wg), 2).cast("decimal(18,2)")
    return cells.select(
        "region",
        "segment",
        F.col("rev_d").cast("double").alias("revenue"),
        (F.col("rev_d").cast("double") / row_m.cast("double")).alias(
            "share_of_region"
        ),
        (F.col("rev_d").cast("double") / col_m.cast("double")).alias(
            "share_of_segment"
        ),
        (F.col("rev_d").cast("double") / grand.cast("double")).alias(
            "share_of_total"
        ),
    )


Q230_SQL = """
WITH cells AS (
  SELECT r.r_name AS region, c.c_mktsegment AS segment,
         CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
              AS DECIMAL(18,2)) AS rev_d
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT region, segment,
       CAST(rev_d AS DOUBLE) AS revenue,
       CAST(rev_d AS DOUBLE) / CAST(CAST(round(sum(rev_d)
           OVER (PARTITION BY region), 2) AS DECIMAL(18,2)) AS DOUBLE)
         AS share_of_region,
       CAST(rev_d AS DOUBLE) / CAST(CAST(round(sum(rev_d)
           OVER (PARTITION BY segment), 2) AS DECIMAL(18,2)) AS DOUBLE)
         AS share_of_segment,
       CAST(rev_d AS DOUBLE) / CAST(CAST(round(sum(rev_d)
           OVER (), 2) AS DECIMAL(18,2)) AS DOUBLE) AS share_of_total
FROM cells
"""


# supplier concentration trend (round 5): q186's HHI made a time
# series — per (year, part type) the supplier Herfindahl index in
# BASIS POINTS as exact integer arithmetic (share² sums scaled by
# 10⁸ before ONE division), plus the year-over-year delta via lag.
# Concentration drift is the procurement-risk trend a static HHI
# can't show.

def q231_hhi_trend(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cell = j.groupBy(
        F.year(F.to_date("l_shipdate")).alias("yr"),
        F.col("p_type").alias("ptype"),
        "l_suppkey",
    ).agg(_dec2(F.sum(_rev())).alias("srev"))
    tot = cell.groupBy("yr", "ptype").agg(
        F.round(F.sum("srev"), 2).cast("decimal(18,2)").alias("trev")
    )
    jj = cell.join(tot, ["yr", "ptype"])
    # HHI in basis points: 1e8 · Σ s_i² / T² — s_i² is rounded to whole
    # dollars² BEFORE summing so the numerator stays below 2^53 and its
    # double conversion is exact on BOTH engines (a scale-4 decimal sum
    # here exceeds 2^53, and wide-decimal→double is not correctly
    # rounded in every engine — measured 1-ulp drift); at 1000× scale
    # quantize s_i to k$ first. One double division at the boundary.
    num = F.sum(
        F.round(F.col("srev") * F.col("srev"), 0).cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    hhi = (num.cast("double") * F.lit(10000.0)) / (
        F.col("trev").cast("double") * F.col("trev").cast("double")
    )
    per = jj.groupBy("yr", "ptype", "trev").agg(hhi.alias("hhi_raw"))
    w = Window.partitionBy("ptype").orderBy("yr")
    out = per.withColumn("hhi_prev", F.lag("hhi_raw").over(w))
    return out.select(
        F.col("yr").cast("int").alias("yr"),
        "ptype",
        F.col("trev").cast("double").alias("revenue"),
        F.col("hhi_raw").alias("hhi_bp"),
        (F.col("hhi_raw") - F.col("hhi_prev")).alias("hhi_delta"),
    )


Q231_SQL = f"""
WITH cell AS (
  SELECT year(CAST(l_shipdate AS DATE)) AS yr, p.p_type AS ptype,
         l_suppkey,
         {_sql_dec2(f"sum({_REV})")} AS srev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2, 3
), tot AS (
  SELECT yr, ptype,
         CAST(round(sum(srev), 2) AS DECIMAL(18,2)) AS trev
  FROM cell GROUP BY 1, 2
), per AS (
  SELECT c.yr, c.ptype, t.trev,
         CAST(sum(CAST(round(c.srev * c.srev, 0) AS DECIMAL(38,0))) AS DOUBLE)
           * 10000.0
           / (CAST(t.trev AS DOUBLE) * CAST(t.trev AS DOUBLE)) AS hhi_raw
  FROM cell c JOIN tot t ON c.yr = t.yr AND c.ptype = t.ptype
  GROUP BY 1, 2, 3
)
SELECT CAST(yr AS INT) AS yr, ptype,
       CAST(trev AS DOUBLE) AS revenue,
       hhi_raw AS hhi_bp,
       hhi_raw - lag(hhi_raw) OVER (PARTITION BY ptype ORDER BY yr)
         AS hhi_delta
FROM per
"""


# tokenizer fertility (round 5): tokens-per-word by (lang, source) —
# the standard tokenizer-quality readout (a high-fertility language is
# under-served by the vocabulary). Uses the portable BPE-ish regex
# tokens (q23) so the oracle reproduces it exactly; composes q23's
# expressions with the documents grain. Integer sums, two boundary
# divisions over the same exact operands.

def q232_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    stats = q23_token_stats(spark, sf)
    meta = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source"
    )
    j = stats.join(meta, "doc_id")
    return j.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        (
            F.sum("n_bpe_tokens").cast("bigint").cast("double")
            / F.sum("n_words").cast("bigint").cast("double")
        ).alias("fertility"),
        (
            F.sum("n_chars").cast("bigint").cast("double")
            / F.sum("n_bpe_tokens").cast("bigint").cast("double")
        ).alias("chars_per_token"),
    )


Q232_SQL = f"""
WITH stats AS ({Q23_SQL}),
j AS (
  SELECT s.*, d.lang, d.source
  FROM stats s JOIN documents d USING (doc_id)
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(CAST(sum(n_bpe_tokens) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(n_words) AS BIGINT) AS DOUBLE) AS fertility,
       CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(n_bpe_tokens) AS BIGINT) AS DOUBLE)
         AS chars_per_token
FROM j GROUP BY 1, 2
"""


# near-dup review queue (round 5): the human-review sampling step —
# q20's exact pairs stratified into Jaccard bands (floor(j·10)), at
# most 5 pairs per band picked in md5 order (deterministic, unbiased
# by doc id assignment). Reviewers see the full similarity spectrum
# instead of whatever sorts first; the rank window is bounded by the
# band's pair count.

def q233_review_queue(spark: SparkSession, sf: str) -> DataFrame:
    pairs = q20_ngram_jaccard_pairs(spark, sf).select(
        "doc_a", "doc_b", "jaccard"
    )
    band = F.floor(F.col("jaccard") * 10).cast("int")
    h = F.md5(
        F.concat_ws("_", F.col("doc_a").cast("string"), F.col("doc_b").cast("string"))
    )
    w = Window.partitionBy("band").orderBy("h", "doc_a", "doc_b")
    return (
        pairs.withColumn("band", band)
        .withColumn("h", h)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "band",
            "doc_a",
            "doc_b",
            F.col("jaccard").cast("double").alias("jaccard"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


Q233_SQL = f"""
WITH pairs AS ({Q20_SQL}),
banded AS (
  SELECT doc_a, doc_b, jaccard,
         CAST(floor(jaccard * 10) AS INT) AS band,
         md5(CAST(doc_a AS VARCHAR) || '_' || CAST(doc_b AS VARCHAR)) AS h
  FROM pairs
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY band
                               ORDER BY h, doc_a, doc_b) AS rnk
  FROM banded
)
SELECT band, doc_a, doc_b, CAST(jaccard AS DOUBLE) AS jaccard,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
"""


# quality-gate ablation (round 5): WHICH gate does the work — for
# each curation gate (length, quality score, repetition, lang
# agreement), how many docs fail it at all and how many fail ONLY it
# (the gate's unique contribution — the ablation a curation reviewer
# asks for before loosening thresholds). Composes q22 + q71 + q21 on
# the doc grain; one aggregation, unpivoted to a 4-row report.

def q234_gate_ablation(spark: SparkSession, sf: str) -> DataFrame:
    quality = q22_text_quality(spark, sf).select(
        "doc_id", "n_tokens", "quality"
    )
    rep = q71_doc_repetition(spark, sf).select("doc_id", "dup_tri_frac")
    lang = q21_lang_id(spark, sf).select(
        "doc_id", "lang_declared", "lang_pred"
    )
    j = quality.join(rep, "doc_id").join(lang, "doc_id")
    f_len = (F.col("n_tokens") < 5).cast("int")
    f_q = (F.col("quality") < 0.5).cast("int")
    f_rep = (F.col("dup_tri_frac") > 0.2).cast("int")
    f_lang = (F.col("lang_pred") != F.col("lang_declared")).cast("int")
    n_fails = f_len + f_q + f_rep + f_lang

    def only(f: Column) -> Column:
        return ((f == 1) & (n_fails == 1)).cast("int")

    agg = j.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((n_fails == 0).cast("int")).cast("bigint").alias("n_pass_all"),
        F.sum(f_len).cast("bigint").alias("fail_len"),
        F.sum(only(f_len)).cast("bigint").alias("only_len"),
        F.sum(f_q).cast("bigint").alias("fail_q"),
        F.sum(only(f_q)).cast("bigint").alias("only_q"),
        F.sum(f_rep).cast("bigint").alias("fail_rep"),
        F.sum(only(f_rep)).cast("bigint").alias("only_rep"),
        F.sum(f_lang).cast("bigint").alias("fail_lang"),
        F.sum(only(f_lang)).cast("bigint").alias("only_lang"),
    )

    def row(gate: str, fail_c: str, only_c: str) -> DataFrame:
        return agg.select(
            F.lit(gate).alias("gate"),
            F.col(fail_c).alias("n_fail"),
            F.col(only_c).alias("n_fail_only"),
            "n_docs",
            "n_pass_all",
        )

    return (
        row("length", "fail_len", "only_len")
        .unionByName(row("quality", "fail_q", "only_q"))
        .unionByName(row("repetition", "fail_rep", "only_rep"))
        .unionByName(row("lang", "fail_lang", "only_lang"))
    )


Q234_SQL = f"""
WITH quality AS ({Q22_SQL}),
rep AS ({Q71_SQL}),
lang AS ({Q21_SQL}),
j AS (
  SELECT q.doc_id,
         CASE WHEN q.n_tokens < 5 THEN 1 ELSE 0 END AS f_len,
         CASE WHEN q.quality < 0.5 THEN 1 ELSE 0 END AS f_q,
         CASE WHEN r.dup_tri_frac > 0.2 THEN 1 ELSE 0 END AS f_rep,
         CASE WHEN l.lang_pred <> l.lang_declared THEN 1 ELSE 0 END AS f_lang
  FROM quality q
  JOIN rep r ON q.doc_id = r.doc_id
  JOIN lang l ON q.doc_id = l.doc_id
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN f_len + f_q + f_rep + f_lang = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
         CAST(sum(f_len) AS BIGINT) AS fail_len,
         CAST(sum(CASE WHEN f_len = 1 AND f_len + f_q + f_rep + f_lang = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_len,
         CAST(sum(f_q) AS BIGINT) AS fail_q,
         CAST(sum(CASE WHEN f_q = 1 AND f_len + f_q + f_rep + f_lang = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_q,
         CAST(sum(f_rep) AS BIGINT) AS fail_rep,
         CAST(sum(CASE WHEN f_rep = 1 AND f_len + f_q + f_rep + f_lang = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_rep,
         CAST(sum(f_lang) AS BIGINT) AS fail_lang,
         CAST(sum(CASE WHEN f_lang = 1 AND f_len + f_q + f_rep + f_lang = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_lang
  FROM j
)
SELECT 'length' AS gate, fail_len AS n_fail, only_len AS n_fail_only,
       n_docs, n_pass_all FROM agg
UNION ALL
SELECT 'quality', fail_q, only_q, n_docs, n_pass_all FROM agg
UNION ALL
SELECT 'repetition', fail_rep, only_rep, n_docs, n_pass_all FROM agg
UNION ALL
SELECT 'lang', fail_lang, only_lang, n_docs, n_pass_all FROM agg
"""


# IVF-PQ composed ANN (round 5): the full billion-scale layout —
# q28's IVF cell pruning UNDER q220's PQ code scoring (operators/
# pq.py ivf_pq_recall). Per eval query the output carries n_scored
# (the pruning proof: ≈ nprobe/n_cells of the corpus), ADC/exact
# bests, overlap@10 vs the exact integer tier over the FULL corpus,
# and planted-twin recovery. Pruning compounds quantization loss —
# a missed cell loses its neighbors entirely — which is exactly what
# the recall column is for. Rows-only (q136's position).

def q235_ivf_pq_ann(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.pq import ivf_pq_recall

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()  # dimension-scale scalar: offsets the planted ids
    planted = emb.select(
        (F.col("vec_id") + F.lit(n)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias(
            "embedding"
        ),
    )
    out = ivf_pq_recall(
        emb.unionByName(planted),
        # %50 eval set: the composed query runs BOTH tiers (ADC and the
        # full-corpus exact reference) per query — measured 20 s at %20,
        # ~9 s at %50 on sf0.1
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < n),
        n_cells=16,
        nprobe=4,
        m=8,
        k=16,
        iters=2,
    )
    return out.withColumn(
        "found_planted", F.col("adc_best") == F.col("query_id") + F.lit(n)
    )


# reorder survival (round 5): P(next order later than d days) — the
# life-table read of q36's cadence gaps WITH censoring handled
# honestly: a customer's open-ended wait since their last order is a
# CENSORED observation, informative at horizon d only if it already
# exceeds d (dropping censored waits entirely — the naive average —
# biases survival low). Exact integer counts per horizon, one
# boundary division; gaps from one per-customer lag window.

def q236_reorder_survival(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf).select("o_custkey", "o_orderdate", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = o.withColumn("next_date", F.lead("o_orderdate").over(w))
    maxd = o.agg(F.max("o_orderdate").alias("max_date"))
    gaps = nxt.crossJoin(F.broadcast(maxd)).select(
        F.when(
            F.col("next_date").isNotNull(),
            F.datediff("next_date", "o_orderdate"),
        ).alias("gap"),
        F.when(
            F.col("next_date").isNull(),
            F.datediff("max_date", "o_orderdate"),
        ).alias("cens"),
    )
    horizons = gaps.sparkSession.createDataFrame(
        [(7,), (30,), (60,), (90,)], "d INT"
    )
    j = gaps.crossJoin(F.broadcast(horizons))
    n_comp = F.sum(F.col("gap").isNotNull().cast("int")).cast("bigint")
    comp_gt = F.sum((F.col("gap") > F.col("d")).cast("int")).cast("bigint")
    cens_ge = F.sum(
        (F.col("cens").isNotNull() & (F.col("cens") >= F.col("d"))).cast("int")
    ).cast("bigint")
    return j.groupBy("d").agg(
        n_comp.alias("n_completed"),
        comp_gt.alias("n_open_past_d"),
        cens_ge.alias("n_censored_informative"),
        (
            (comp_gt + cens_ge).cast("double")
            / (n_comp + cens_ge).cast("double")
        ).alias("survival"),
    )


Q236_SQL = """
WITH nxt AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
         lead(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS next_date
  FROM orders
), maxd AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_date FROM orders),
gaps AS (
  SELECT CASE WHEN next_date IS NOT NULL
              THEN datediff('day', od, next_date) END AS gap,
         CASE WHEN next_date IS NULL
              THEN datediff('day', od, max_date) END AS cens
  FROM nxt CROSS JOIN maxd
), h AS (SELECT unnest([7, 30, 60, 90]) AS d)
SELECT CAST(d AS INT) AS d,
       CAST(sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_completed,
       CAST(sum(CASE WHEN gap > d THEN 1 ELSE 0 END) AS BIGINT)
         AS n_open_past_d,
       CAST(sum(CASE WHEN cens IS NOT NULL AND cens >= d
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS n_censored_informative,
       CAST(CAST(sum(CASE WHEN gap > d THEN 1 ELSE 0 END)
                 + sum(CASE WHEN cens IS NOT NULL AND cens >= d
                            THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END)
                     + sum(CASE WHEN cens IS NOT NULL AND cens >= d
                                THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         AS survival
FROM gaps CROSS JOIN h
GROUP BY d
"""


# vocabulary growth / Heaps' law (round 5): distinct regex-word
# vocabulary vs cumulative tokens at 10 corpus checkpoints in md5 doc
# order — the statistic that says whether a vocab/BPE budget is near
# saturation (q114's sizing question) or the corpus keeps minting
# types. Doc ranks and the cumulative token count are
# two_phase_running_sum sharded on the hash prefix (no
# single-partition doc-grain window); each word's FIRST-occurrence
# rank joins a 10-row broadcast checkpoint table on its rank range,
# so vocab counting shuffles word-grain rows exactly once.

def q237_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.recipe import two_phase_running_sum

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    words = F.array_distinct(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
    )
    staged = docs.select(
        "doc_id",
        words.alias("ws"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("one", F.lit(1))
    ranked = two_phase_running_sum(
        staged,
        [],
        F.substring("h", 1, 1),
        [F.col("h").asc(), F.col("doc_id").asc()],
        "one",
        "rnk",
    ).withColumn("n_w", F.size("ws"))
    ranked = ranked.persist()
    cum_tok = two_phase_running_sum(
        ranked.select("doc_id", "h", "rnk", "n_w"),
        [],
        F.substring("h", 1, 1),
        [F.col("h").asc(), F.col("doc_id").asc()],
        "n_w",
        "cum_w",
    )
    tot = ranked.agg(F.count("*").alias("n_docs"))
    cps = (
        tot.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
            "n_docs",
        )
        .select(
            "decile",
            F.expr("(n_docs * decile + 9) div 10").alias("cp"),
            F.expr("(n_docs * (decile - 1) + 9) div 10").alias("cp_prev"),
        )
    )
    # tokens at each checkpoint: the cum at rank == cp
    tok_at = cum_tok.join(
        F.broadcast(cps), F.col("rnk") == F.col("cp")
    ).select("decile", "cp", F.col("cum_w").alias("cum_tokens"))
    first_rank = (
        ranked.select(F.explode("ws").alias("w"), "rnk")
        .groupBy("w")
        .agg(F.min("rnk").alias("fr"))
    )
    vocab_new = first_rank.join(
        F.broadcast(cps),
        (F.col("fr") > F.col("cp_prev")) & (F.col("fr") <= F.col("cp")),
    ).groupBy("decile").agg(F.count("*").alias("new_types"))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        tok_at.join(vocab_new, "decile", "left")
        .withColumn("new_types", F.coalesce("new_types", F.lit(0)))
        .withColumn("vocab", F.sum("new_types").over(w_cum))
    )
    return out.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("cp").cast("bigint").alias("n_docs"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("vocab").cast("bigint").alias("vocab"),
        (F.col("vocab").cast("double") / F.col("cum_tokens").cast("double")).alias(
            "type_token_ratio"
        ),
    )


Q237_SQL = """
WITH staged AS (
  SELECT doc_id,
         list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS ws,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), ranked AS (
  SELECT doc_id, ws, len(ws) AS n_w,
         row_number() OVER (ORDER BY h, doc_id) AS rnk,
         sum(len(ws)) OVER (ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
  FROM staged
), tot AS (SELECT count(*) AS n_docs FROM staged),
cps AS (
  SELECT d AS decile,
         (n_docs * d + 9) // 10 AS cp,
         (n_docs * (d - 1) + 9) // 10 AS cp_prev
  FROM (SELECT unnest(generate_series(1, 10)) AS d) CROSS JOIN tot
), tok_at AS (
  SELECT c.decile, c.cp, r.cum_w AS cum_tokens
  FROM ranked r JOIN cps c ON r.rnk = c.cp
), first_rank AS (
  SELECT w, min(rnk) AS fr
  FROM ranked, LATERAL (SELECT unnest(ws) AS w)
  GROUP BY 1
), vocab_new AS (
  SELECT c.decile, count(*) AS new_types
  FROM first_rank f JOIN cps c ON f.fr > c.cp_prev AND f.fr <= c.cp
  GROUP BY 1
)
SELECT CAST(t.decile AS INT) AS decile,
       CAST(t.cp AS BIGINT) AS n_docs,
       CAST(t.cum_tokens AS BIGINT) AS cum_tokens,
       CAST(sum(coalesce(v.new_types, 0)) OVER (ORDER BY t.decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab,
       CAST(sum(coalesce(v.new_types, 0)) OVER (ORDER BY t.decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(t.cum_tokens AS DOUBLE) AS type_token_ratio
FROM tok_at t LEFT JOIN vocab_new v ON t.decile = v.decile
"""


# functional-dependency audit (round 5): does X determine Y — the
# data-quality check q161's referential integrity can't express.
# Three candidate FDs with three different verdicts in this data:
# customer name → custkey HOLDS (names minted unique), part name →
# partkey FAILS (generic names like 'blue rod' collide across keys —
# the natural-key trap), orderkey → suppkey FAILS (orders span
# suppliers) — so the audit demonstrably distinguishes, not blesses.
# Per FD: LHS values, violating LHS count, max distinct RHS per LHS
# — one two-level agg per FD on the (lhs, rhs) distinct grain.

def q238_fd_audit(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    part = load_table(spark, sf, "part")
    li = _li(spark, sf)

    def audit(df: DataFrame, name: str, lhs: str, rhs: str) -> DataFrame:
        grain = df.select(
            F.col(lhs).alias("lhs"), F.col(rhs).alias("rhs")
        ).distinct()
        per = grain.groupBy("lhs").agg(F.count("*").alias("n_rhs"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count("*").cast("bigint").alias("n_lhs"),
            F.sum((F.col("n_rhs") > 1).cast("int"))
            .cast("bigint")
            .alias("n_violations"),
            F.max("n_rhs").cast("bigint").alias("max_rhs"),
            (F.sum((F.col("n_rhs") > 1).cast("int")) == 0).alias("holds"),
        )

    return (
        audit(cust, "c_name->c_custkey", "c_name", "c_custkey")
        .unionByName(audit(part, "p_name->p_partkey", "p_name", "p_partkey"))
        .unionByName(
            audit(li, "l_orderkey->l_suppkey", "l_orderkey", "l_suppkey")
        )
    )


Q238_SQL = """
WITH a1 AS (
  SELECT 'c_name->c_custkey' AS fd, lhs, count(*) AS n_rhs
  FROM (SELECT DISTINCT c_name AS lhs, c_custkey AS rhs FROM customer)
  GROUP BY 1, 2
), a2 AS (
  SELECT 'p_name->p_partkey' AS fd, lhs, count(*) AS n_rhs
  FROM (SELECT DISTINCT p_name AS lhs, p_partkey AS rhs FROM part)
  GROUP BY 1, 2
), a3 AS (
  SELECT 'l_orderkey->l_suppkey' AS fd, CAST(lhs AS VARCHAR) AS lhs,
         count(*) AS n_rhs
  FROM (SELECT DISTINCT l_orderkey AS lhs, l_suppkey AS rhs FROM lineitem)
  GROUP BY 1, 2
), u AS (
  SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
)
SELECT fd,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       CAST(max(n_rhs) AS BIGINT) AS max_rhs,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM u GROUP BY 1
"""


# LSH parameter planner (round 5): the S-curve table behind q26's
# (b=16, r=4) choice — for each banding of 64 hashes, the collision
# probability 1 − (1 − s^r)^b across the similarity grid. Engine libm
# pow is banned, so the powers are UNROLLED REPEATED SQUARING with a
# round(·, 12) after every multiply (identical fixed-point algebra on
# both engines); the grid itself is exact decimal s = i·0.1. A pure
# planning table — no scan, constant-folded by Catalyst.

def q239_lsh_param_planner(spark: SparkSession, sf: str) -> DataFrame:
    grid = spark.range(1, 10).select(
        F.col("id").cast("decimal(3,1)").alias("i")
    )
    configs = spark.createDataFrame(
        [(4, 16), (8, 8), (16, 4)], "b INT, r INT"
    )
    j = grid.crossJoin(F.broadcast(configs))
    s = (F.col("i") * F.lit(0.1).cast("decimal(3,1)")).cast("decimal(14,12)")

    def sq(c: Column) -> Column:
        return F.round(c * c, 12).cast("decimal(14,12)")

    s2 = sq(s)
    s4 = sq(s2)
    s8 = sq(s4)
    s16 = sq(s8)
    sr = (
        F.when(F.col("r") == 4, s4)
        .when(F.col("r") == 8, s8)
        .otherwise(s16)
    )
    q = (F.lit(1).cast("decimal(14,12)") - sr).cast("decimal(14,12)")
    q2 = sq(q)
    q4 = sq(q2)
    q8 = sq(q4)
    q16 = sq(q8)
    qb = (
        F.when(F.col("b") == 4, q4)
        .when(F.col("b") == 8, q8)
        .otherwise(q16)
    )
    p = F.lit(1).cast("decimal(14,12)") - qb
    return j.select(
        "b",
        "r",
        s.cast("double").alias("s"),
        p.cast("double").alias("p_collide"),
        (p >= F.lit(0.5).cast("decimal(14,12)")).alias("above_half"),
    )


Q239_SQL = """
WITH grid AS (
  SELECT CAST(i AS DECIMAL(3,1)) AS i
  FROM (SELECT unnest(generate_series(1, 9)) AS i)
), configs AS (
  SELECT * FROM (VALUES (4, 16), (8, 8), (16, 4)) AS t(b, r)
), staged AS (
  SELECT b, r,
         CAST(i * CAST(0.1 AS DECIMAL(3,1)) AS DECIMAL(14,12)) AS s
  FROM grid CROSS JOIN configs
), p1 AS (
  SELECT b, r, s,
         CAST(round(s * s, 12) AS DECIMAL(14,12)) AS s2
  FROM staged
), p2 AS (
  SELECT *, CAST(round(s2 * s2, 12) AS DECIMAL(14,12)) AS s4 FROM p1
), p3 AS (
  SELECT *, CAST(round(s4 * s4, 12) AS DECIMAL(14,12)) AS s8 FROM p2
), p4 AS (
  SELECT *, CAST(round(s8 * s8, 12) AS DECIMAL(14,12)) AS s16 FROM p3
), pr AS (
  SELECT b, r, s,
         CAST(1 AS DECIMAL(14,12))
           - CASE WHEN r = 4 THEN s4 WHEN r = 8 THEN s8 ELSE s16 END AS q0
  FROM p4
), q1 AS (
  SELECT b, r, s, CAST(q0 AS DECIMAL(14,12)) AS q,
         CAST(round(CAST(q0 AS DECIMAL(14,12))
                    * CAST(q0 AS DECIMAL(14,12)), 12) AS DECIMAL(14,12)) AS q2
  FROM pr
), q2c AS (
  SELECT *, CAST(round(q2 * q2, 12) AS DECIMAL(14,12)) AS q4 FROM q1
), q3c AS (
  SELECT *, CAST(round(q4 * q4, 12) AS DECIMAL(14,12)) AS q8 FROM q2c
), q4c AS (
  SELECT *, CAST(round(q8 * q8, 12) AS DECIMAL(14,12)) AS q16 FROM q3c
), fin AS (
  SELECT b, r, s,
         CAST(1 AS DECIMAL(14,12))
           - CASE WHEN b = 4 THEN q4 WHEN b = 8 THEN q8 ELSE q16 END AS p
  FROM q4c
)
SELECT b, r, CAST(s AS DOUBLE) AS s, CAST(p AS DOUBLE) AS p_collide,
       p >= CAST(0.5 AS DECIMAL(14,12)) AS above_half
FROM fin
"""


# additive seasonal decomposition (round 5): monthly revenue =
# trend + seasonal + residual — the classical decomposition behind
# q170's seasonal-naive backtest. All structure is computed ×12
# SCALED so the 12-month moving sum, the per-calendar-month seasonal
# deviations, and their averages stay EXACT decimals (dividing by 12
# early would float every downstream sum in partition order); each
# output column is one fixed double tree at the boundary. Windows
# run on the bounded month grain.

def q242_seasonal_decomposition(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    monthly = li.groupBy(
        F.trunc(F.to_date("l_shipdate"), "month").alias("month")
    ).agg(_dec2(F.sum(_rev())).alias("rev"))
    w12 = Window.orderBy("month").rowsBetween(-6, 5)
    m = monthly.withColumn(
        "sum12", F.round(F.sum("rev").over(w12), 2).cast("decimal(18,2)")
    ).withColumn("n12", F.count("*").over(w12))
    m = m.filter(F.col("n12") == 12).withColumn(
        "dev12",
        (F.col("rev") * 12 - F.col("sum12")).cast("decimal(20,2)"),
    )
    moy = F.month("month")
    ws = Window.partitionBy(moy)
    m = m.withColumn(
        "seas_sum", F.round(F.sum("dev12").over(ws), 2).cast("decimal(20,2)")
    ).withColumn("seas_n", F.count("*").over(ws).cast("bigint"))
    seasonal12 = F.col("seas_sum").cast("double") / F.col("seas_n").cast(
        "double"
    )
    return m.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("sum12").cast("double") / F.lit(12.0)).alias("trend"),
        (seasonal12 / F.lit(12.0)).alias("seasonal"),
        (
            (F.col("dev12").cast("double") - seasonal12) / F.lit(12.0)
        ).alias("residual"),
    )


Q242_SQL = f"""
WITH monthly AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         {_sql_dec2(f"sum({_REV})")} AS rev
  FROM lineitem GROUP BY 1
), win AS (
  SELECT month, rev,
         CAST(round(sum(rev) OVER (ORDER BY month
             ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING), 2)
           AS DECIMAL(18,2)) AS sum12,
         count(*) OVER (ORDER BY month
             ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS n12
  FROM monthly
), dev AS (
  SELECT month, rev, sum12,
         CAST(rev * 12 - sum12 AS DECIMAL(20,2)) AS dev12
  FROM win WHERE n12 = 12
), seas AS (
  SELECT *,
         CAST(round(sum(dev12) OVER (PARTITION BY month(month)), 2)
           AS DECIMAL(20,2)) AS seas_sum,
         CAST(count(*) OVER (PARTITION BY month(month)) AS BIGINT) AS seas_n
  FROM dev
)
SELECT CAST(month AS DATE) AS month,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(sum12 AS DOUBLE) / 12.0 AS trend,
       CAST(seas_sum AS DOUBLE) / CAST(seas_n AS DOUBLE) / 12.0 AS seasonal,
       (CAST(dev12 AS DOUBLE)
          - CAST(seas_sum AS DOUBLE) / CAST(seas_n AS DOUBLE)) / 12.0
         AS residual
FROM seas
"""


# active-learning margin sample (round 5): the 20 documents CLOSEST
# to the quality-gate boundary (|quality − 0.5|, q137's adaptive
# threshold family) in deterministic md5 tie-order — the "label these
# next" queue: boundary examples move a threshold most per label.
# TakeOrderedAndProject shape (global top-k without a global sort).

def q240_margin_sample(spark: SparkSession, sf: str) -> DataFrame:
    q = q22_text_quality(spark, sf).select("doc_id", "quality")
    margin = F.abs(F.col("quality") - F.lit(0.5).cast("decimal(9,6)"))
    h = F.md5(F.col("doc_id").cast("string"))
    ranked = q.select(
        "doc_id",
        F.col("quality").cast("double").alias("quality"),
        margin.alias("m"),
        h.alias("h"),
    ).orderBy(F.asc("m"), F.asc("h"), F.asc("doc_id")).limit(20)
    w = Window.orderBy("m", "h", "doc_id")
    return ranked.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).select("rnk", "doc_id", "quality", F.col("m").cast("double").alias("margin"))


Q240_SQL = f"""
WITH q AS ({Q22_SQL}),
ranked AS (
  SELECT doc_id, CAST(quality AS DOUBLE) AS quality,
         abs(quality - CAST(0.5 AS DECIMAL(9,6))) AS m,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM q
)
SELECT CAST(row_number() OVER (ORDER BY m, h, doc_id) AS INT) AS rnk,
       doc_id, quality, CAST(m AS DOUBLE) AS margin
FROM ranked
ORDER BY m, h, doc_id
LIMIT 20
"""


# join-cardinality estimator audit (round 5): the CBO's textbook
# estimate |A⋈B| = |A|·|B| / max(ndv_A(k), ndv_B(k)) scored against
# the TRUE join sizes for the star's two key joins — how wrong the
# uniformity assumption is on THIS data is exactly what q218's
# equi-depth histogram exists to correct. Exact counts, integer
# estimate, one boundary division for the error ratio.

def q241_join_cost_audit(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    c = load_table(spark, sf, "customer")
    li = _li(spark, sf)

    def audit(
        name: str,
        a: DataFrame,
        ka: str,
        b: DataFrame,
        kb: str,
    ) -> DataFrame:
        stats = a.agg(
            F.count("*").alias("na"),
            F.count_distinct(F.col(ka)).alias("da"),
        ).crossJoin(
            b.agg(
                F.count("*").alias("nb"),
                F.count_distinct(F.col(kb)).alias("db"),
            )
        )
        actual = a.join(b, a[ka] == b[kb]).agg(
            F.count("*").cast("bigint").alias("actual")
        )
        j = stats.crossJoin(F.broadcast(actual))
        est = F.expr("na * nb div greatest(da, db)")
        return j.select(
            F.lit(name).alias("join_name"),
            est.cast("bigint").alias("estimated"),
            "actual",
            (
                (est.cast("double") - F.col("actual").cast("double"))
                / F.col("actual").cast("double")
            ).alias("rel_err"),
        )

    return audit("orders~customer", o, "o_custkey", c, "c_custkey").unionByName(
        audit("lineitem~orders", li, "l_orderkey", o, "o_orderkey")
    )


Q241_SQL = """
WITH s1 AS (
  SELECT (SELECT count(*) FROM orders) AS na,
         (SELECT count(DISTINCT o_custkey) FROM orders) AS da,
         (SELECT count(*) FROM customer) AS nb,
         (SELECT count(DISTINCT c_custkey) FROM customer) AS db,
         (SELECT count(*) FROM orders o JOIN customer c
            ON o.o_custkey = c.c_custkey) AS actual
), s2 AS (
  SELECT (SELECT count(*) FROM lineitem) AS na,
         (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS da,
         (SELECT count(*) FROM orders) AS nb,
         (SELECT count(DISTINCT o_orderkey) FROM orders) AS db,
         (SELECT count(*) FROM lineitem l JOIN orders o
            ON l.l_orderkey = o.o_orderkey) AS actual
)
SELECT 'orders~customer' AS join_name,
       CAST(na * nb // greatest(da, db) AS BIGINT) AS estimated,
       CAST(actual AS BIGINT) AS actual,
       (CAST(na * nb // greatest(da, db) AS DOUBLE)
          - CAST(CAST(actual AS BIGINT) AS DOUBLE))
         / CAST(CAST(actual AS BIGINT) AS DOUBLE) AS rel_err
FROM s1
UNION ALL
SELECT 'lineitem~orders',
       CAST(na * nb // greatest(da, db) AS BIGINT),
       CAST(actual AS BIGINT),
       (CAST(na * nb // greatest(da, db) AS DOUBLE)
          - CAST(CAST(actual AS BIGINT) AS DOUBLE))
         / CAST(CAST(actual AS BIGINT) AS DOUBLE)
FROM s2
"""


# dedup tier disagreement (round 5): where the uniform-vote tier
# (q20) and the rarity-weighted tier (q214) DISAGREE at the same 0.2
# threshold — the report that shows what the weighting actually
# changes: uniform-only pairs are boilerplate-driven (down-weighted
# away), weighted-only pairs share rare content below uniform
# threshold. Full-outer join of the two exact tiers on the pair
# grain; counts plus per-zone average scores. r6: the (doc_id,
# shingle) frame — the dominant tokenize→shingle cost — is built and
# persisted ONCE and passed to both tiers via their `shingles`
# parameter (the split_leakage pairs-parameter pattern), and the
# per-zone averages are exact DECIMAL sums with ONE boundary double
# division each (avg(double) is partition-order-dependent and
# round(double, n) non-portable — the q170/q177 discipline).

def q243_tier_disagreement(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    sh = DD.shingle_sets(docs, "doc_id", "text", 3).persist()
    uni = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, shingles=sh
    ).select("doc_a", "doc_b", F.col("jaccard").alias("uni_j"))
    wtd = q214_weighted_jaccard(spark, sf, shingles=sh).select(
        "doc_a", "doc_b", F.col("w_jaccard").alias("wtd_j")
    )
    j = uni.join(wtd, ["doc_a", "doc_b"], "full_outer")
    zone = (
        F.when(F.col("uni_j").isNotNull() & F.col("wtd_j").isNotNull(), "both")
        .when(F.col("uni_j").isNotNull(), "uniform_only")
        .otherwise("weighted_only")
    )
    agg = j.groupBy(zone.alias("zone")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("uni_j").alias("su"),
        F.count("uni_j").alias("cu"),
        F.sum("wtd_j").alias("sw"),
        F.count("wtd_j").alias("cw"),
    )
    return agg.select(
        "zone",
        "n_pairs",
        (F.col("su").cast("double") / F.col("cu").cast("double")).alias(
            "avg_uniform_j"
        ),
        (F.col("sw").cast("double") / F.col("cw").cast("double")).alias(
            "avg_weighted_j"
        ),
    )


Q243_SQL = f"""
WITH uni AS (
  SELECT doc_a, doc_b, jaccard AS uni_j FROM ({Q20_SQL})
), wtd AS (
  SELECT doc_a, doc_b, w_jaccard AS wtd_j FROM ({Q214_SQL})
), j AS (
  SELECT coalesce(u.doc_a, w.doc_a) AS doc_a,
         coalesce(u.doc_b, w.doc_b) AS doc_b,
         u.uni_j, w.wtd_j,
         CASE WHEN u.uni_j IS NOT NULL AND w.wtd_j IS NOT NULL THEN 'both'
              WHEN u.uni_j IS NOT NULL THEN 'uniform_only'
              ELSE 'weighted_only' END AS zone
  FROM uni u FULL OUTER JOIN wtd w
    ON u.doc_a = w.doc_a AND u.doc_b = w.doc_b
)
SELECT zone,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(uni_j) AS DOUBLE) / CAST(count(uni_j) AS DOUBLE)
         AS avg_uniform_j,
       CAST(sum(wtd_j) AS DOUBLE) / CAST(count(wtd_j) AS DOUBLE)
         AS avg_weighted_j
FROM j GROUP BY 1
"""


# discount-cap what-if (round 5): policy simulation — revenue per
# brand if every discount were capped at 5%, next to actual, with the
# recovered amount. The counterfactual is the same exact-decimal
# _REV tree with least(discount, 0.05) substituted, so actual,
# capped, and delta reconcile exactly; one conditional-agg scan.

def q244_discount_cap_whatif(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    part = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    ep = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(9,4)")
    capped_d = F.least(disc, F.lit(0.05).cast("decimal(9,4)"))
    actual = ep * (F.lit(1).cast("decimal(9,4)") - disc)
    capped = ep * (F.lit(1).cast("decimal(9,4)") - capped_d)
    agg = j.groupBy(F.col("p_brand").alias("brand")).agg(
        _dec2(F.sum(actual)).alias("rev_actual_d"),
        _dec2(F.sum(capped)).alias("rev_capped_d"),
        F.sum((disc > F.lit(0.05).cast("decimal(9,4)")).cast("int"))
        .cast("bigint")
        .alias("n_capped_rows"),
    )
    return agg.select(
        "brand",
        F.col("rev_actual_d").cast("double").alias("rev_actual"),
        F.col("rev_capped_d").cast("double").alias("rev_capped"),
        (F.col("rev_capped_d") - F.col("rev_actual_d"))
        .cast("double")
        .alias("recovered"),
        "n_capped_rows",
    )


Q244_SQL = f"""
WITH agg AS (
  SELECT p.p_brand AS brand,
         {_sql_dec2(f"sum({_REV})")} AS rev_actual_d,
         {_sql_dec2("sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(9,4)) - least(CAST(l_discount AS DECIMAL(9,4)), CAST(0.05 AS DECIMAL(9,4)))))")} AS rev_capped_d,
         CAST(sum(CASE WHEN CAST(l_discount AS DECIMAL(9,4))
                          > CAST(0.05 AS DECIMAL(9,4))
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_rows
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT brand,
       CAST(rev_actual_d AS DOUBLE) AS rev_actual,
       CAST(rev_capped_d AS DOUBLE) AS rev_capped,
       CAST(rev_capped_d - rev_actual_d AS DOUBLE) AS recovered,
       n_capped_rows
FROM agg
"""


# order fill rate (round 5): per month, orders fully shipped within
# 30 days vs partially vs not at all — the fulfillment readout q223's
# first-line SLA can't give (an order counts FULL only when its LAST
# line makes the window). One per-order min/max aggregation, one
# month rollup, shares as boundary divisions.

def q245_order_fill_rate(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship"),
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
    )
    o = _ord(spark, sf).select("o_orderkey", "o_orderdate")
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    status = (
        F.when(
            F.col("first_ship").isNull()
            | (F.datediff("first_ship", "o_orderdate") > 30),
            "none_in_window",
        )
        .when(F.datediff("last_ship", "o_orderdate") <= 30, "full")
        .otherwise("partial")
    )
    cells = j.groupBy(
        F.trunc("o_orderdate", "month").alias("month"),
        status.alias("status"),
    ).agg(F.count("*").cast("bigint").alias("n_orders"))
    w = Window.partitionBy("month")
    return cells.withColumn(
        "share",
        F.col("n_orders").cast("double")
        / F.sum("n_orders").over(w).cast("double"),
    )


Q245_SQL = """
WITH spans AS (
  SELECT l_orderkey,
         min(CAST(l_shipdate AS DATE)) AS first_ship,
         max(CAST(l_shipdate AS DATE)) AS last_ship
  FROM lineitem GROUP BY 1
), j AS (
  SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS month,
         CASE WHEN s.first_ship IS NULL
                OR datediff('day', CAST(o.o_orderdate AS DATE),
                            s.first_ship) > 30 THEN 'none_in_window'
              WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                            s.last_ship) <= 30 THEN 'full'
              ELSE 'partial' END AS status
  FROM orders o LEFT JOIN spans s ON o.o_orderkey = s.l_orderkey
), cells AS (
  SELECT month, status, CAST(count(*) AS BIGINT) AS n_orders
  FROM j GROUP BY 1, 2
)
SELECT CAST(month AS DATE) AS month, status, n_orders,
       CAST(n_orders AS DOUBLE)
         / CAST(sum(n_orders) OVER (PARTITION BY month) AS DOUBLE) AS share
FROM cells
"""


# customer acquisition curve (round 5): new and cumulative distinct
# customers per month — distinct-counting under a cumulative window
# done the scalable way: collapse to each customer's FIRST order
# month (one custkey agg), then a month-grain cumsum of the news; a
# naive per-month COUNT(DISTINCT) over expanding windows rescans the
# fact per month.

def q246_acquisition_curve(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.trunc("o_orderdate", "month")).alias("first_month")
    )
    news = firsts.groupBy(F.col("first_month").alias("month")).agg(
        F.count("*").cast("bigint").alias("new_customers")
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return news.withColumn(
        "cum_customers", F.sum("new_customers").over(w).cast("bigint")
    )


Q246_SQL = """
WITH firsts AS (
  SELECT o_custkey,
         min(date_trunc('month', CAST(o_orderdate AS DATE))) AS first_month
  FROM orders GROUP BY 1
), news AS (
  SELECT first_month AS month,
         CAST(count(*) AS BIGINT) AS new_customers
  FROM firsts GROUP BY 1
)
SELECT CAST(month AS DATE) AS month, new_customers,
       CAST(sum(new_customers) OVER (ORDER BY month
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_customers
FROM news
"""


# top-customer revenue concentration (round 5): per month, the share
# of revenue held by the 10 biggest customers — the account-risk
# companion to q186/q231's supplier HHI. Rank window partitions by
# month; shares from exact decimal sums with one boundary division.

def q247_top_customer_share(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    cells = o.groupBy(
        F.trunc("o_orderdate", "month").alias("month"), "o_custkey"
    ).agg(_dec2(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))).alias("crev"))
    w = Window.partitionBy("month").orderBy(
        F.desc("crev"), F.asc("o_custkey")
    )
    ranked = cells.withColumn("rnk", F.row_number().over(w))
    agg = ranked.groupBy("month").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.sum("crev"), 2).cast("decimal(18,2)").alias("tot_d"),
        F.round(
            F.sum(F.when(F.col("rnk") <= 10, F.col("crev")).otherwise(0)), 2
        )
        .cast("decimal(18,2)")
        .alias("top10_d"),
    )
    return agg.select(
        "month",
        "n_customers",
        F.col("tot_d").cast("double").alias("revenue"),
        F.col("top10_d").cast("double").alias("top10_revenue"),
        (F.col("top10_d").cast("double") / F.col("tot_d").cast("double")).alias(
            "top10_share"
        ),
    )


Q247_SQL = """
WITH cells AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         o_custkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
              AS DECIMAL(18,2)) AS crev
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY month
                               ORDER BY crev DESC, o_custkey) AS rnk
  FROM cells
), agg AS (
  SELECT month,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(round(sum(crev), 2) AS DECIMAL(18,2)) AS tot_d,
         CAST(round(sum(CASE WHEN rnk <= 10 THEN crev ELSE 0 END), 2)
              AS DECIMAL(18,2)) AS top10_d
  FROM ranked GROUP BY 1
)
SELECT CAST(month AS DATE) AS month, n_customers,
       CAST(tot_d AS DOUBLE) AS revenue,
       CAST(top10_d AS DOUBLE) AS top10_revenue,
       CAST(top10_d AS DOUBLE) / CAST(tot_d AS DOUBLE) AS top10_share
FROM agg
"""


# charset audit (round 5): UTF-8 bytes-per-character per source — the
# cheap multilingual-content detector (pure ASCII ⇒ ratio 1.0) that
# needs no regex at all: char counts and octet counts are both
# engine-exact integers, so the audit dodges the Java∩RE2 regex
# subset problem entirely. One narrow scan + source agg.

def q248_charset_audit(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.sum(F.octet_length("text")).cast("bigint").alias("n_bytes"),
        (
            F.sum(F.octet_length("text")).cast("bigint").cast("double")
            / F.sum(F.length("text")).cast("bigint").cast("double")
        ).alias("bytes_per_char"),
        F.sum(
            (F.octet_length("text") > F.length("text")).cast("int")
        )
        .cast("bigint")
        .alias("n_non_ascii_docs"),
    )


Q248_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS n_bytes,
       CAST(CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS DOUBLE)
         / CAST(CAST(sum(length(text)) AS BIGINT) AS DOUBLE)
         AS bytes_per_char,
       CAST(sum(CASE WHEN octet_length(CAST(text AS BLOB)) > length(text)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_non_ascii_docs
FROM documents GROUP BY 1
"""


# supplier lead-time stats (round 5): ship-minus-order days per
# supplier — mean and standard deviation from EXACT integer sums
# (n·Σd² − (Σd)² under the q209 quantization discipline, one sqrt at
# the boundary — sqrt is IEEE-portable, libm log/pow are not), plus
# the worst observed lead time. The ops metric behind q223's SLA.

def q249_lead_time_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf).select(
        "l_orderkey", "l_suppkey", F.to_date("l_shipdate").alias("sd")
    )
    o = _ord(spark, sf).select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    d = F.datediff("sd", "o_orderdate")
    agg = j.groupBy(F.col("l_suppkey").alias("supp_key")).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(d).cast("bigint").alias("sd_sum"),
        F.sum((d * d).cast("bigint")).cast("bigint").alias("sd_sumsq"),
        F.max(d).cast("int").alias("max_days"),
    )
    mean = F.col("sd_sum").cast("double") / F.col("n_lines").cast("double")
    var = (
        F.col("n_lines").cast("double") * F.col("sd_sumsq").cast("double")
        - F.col("sd_sum").cast("double") * F.col("sd_sum").cast("double")
    ) / (F.col("n_lines").cast("double") * F.col("n_lines").cast("double"))
    return agg.select(
        "supp_key",
        "n_lines",
        mean.alias("mean_days"),
        F.sqrt(var).alias("std_days"),
        "max_days",
    )


Q249_SQL = """
WITH j AS (
  SELECT l.l_suppkey,
         datediff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), agg AS (
  SELECT l_suppkey AS supp_key,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(d) AS BIGINT) AS sd_sum,
         CAST(sum(CAST(d * d AS BIGINT)) AS BIGINT) AS sd_sumsq,
         CAST(max(d) AS INT) AS max_days
  FROM j GROUP BY 1
)
SELECT supp_key, n_lines,
       CAST(sd_sum AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mean_days,
       sqrt((CAST(n_lines AS DOUBLE) * CAST(sd_sumsq AS DOUBLE)
             - CAST(sd_sum AS DOUBLE) * CAST(sd_sum AS DOUBLE))
            / (CAST(n_lines AS DOUBLE) * CAST(n_lines AS DOUBLE)))
         AS std_days,
       max_days
FROM agg
"""


# unbilled-order exposure (round 5): q161 COUNTS orders without
# lineitems; this PRICES them per month (the q201 pricing discipline
# applied to the parents-without-children direction) — revenue booked
# at the order header with no shippable lines behind it. One LeftAnti
# + month rollup, exact decimals to the boundary.

def q250_unbilled_orders(spark: SparkSession, sf: str) -> DataFrame:
    o = _ord(spark, sf)
    li = _li(spark, sf).select("l_orderkey")
    orphans = o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
    return orphans.groupBy(
        F.trunc("o_orderdate", "month").alias("month")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        _dec2(F.sum(F.col("o_totalprice").cast("decimal(18,4)")))
        .cast("double")
        .alias("exposure"),
    )


Q250_SQL = f"""
SELECT date_trunc('month', CAST(o_orderdate AS DATE))::DATE AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST({_sql_dec2("sum(CAST(o_totalprice AS DECIMAL(18,4)))")}
            AS DOUBLE) AS exposure
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey)
GROUP BY 1
"""


# ------------------------------------------------- canonical output boundary
#
# Round-1 driver evidence (VERDICT.md "What's wrong" #2): the driver's
# value-hash is computed on the CLIENT representation of each result.
# DuckDB's pandas client materializes DECIMAL as float64 ("12.3") while
# Spark's keeps Decimal objects ("12.30"), and DuckDB widens integer sums
# to HUGEINT — so value-equal results hash differently whenever a DECIMAL
# or a widened integer reaches the final projection (27 of 27 round-1
# hash-fails). Internal arithmetic therefore stays in exact DECIMAL (see
# module doc — that is what makes the VALUES engine-independent), and this
# boundary canonicalizes the final projection on BOTH sides:
#
#  * every DECIMAL output column  -> DOUBLE  (both engines produce the
#    nearest double of the same exact rational, so equal decimals stay
#    bit-identical doubles);
#  * every DuckDB-widened integer -> BIGINT, matching Spark's sum type;
#  * every TIMESTAMP output column -> BIGINT epoch MICROSECONDS
#    (`unix_micros` / DuckDB `epoch_us`). Spark exports TIMESTAMP as a
#    tz-AWARE client value and renders it in the SESSION timezone, while
#    DuckDB exports naive UTC wall-clock — both representation-unstable
#    under an unknown driver session. Epoch micros of the same instant is
#    the identical int64 in any session timezone on both clients.

def _canon_query(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Wrap a catalog query so final DECIMAL columns leave as DOUBLE and
    final TIMESTAMP columns leave as epoch-microsecond BIGINT."""

    def canon_col(f):
        if isinstance(f.dataType, DecimalType):
            return F.col(f.name).cast("double").alias(f.name)
        if isinstance(f.dataType, TimestampType):
            return F.unix_micros(F.col(f.name)).alias(f.name)
        if isinstance(f.dataType, TimestampNTZType):
            # NTZ wall clock → epoch micros via timestampdiff, which is
            # pure wall-clock arithmetic on NTZ operands. (to_utc_timestamp
            # would first implicit-cast NTZ→TIMESTAMP through the SESSION
            # timezone, shifting the value by the session offset — the
            # round-2 q58 bug.)
            return F.expr(
                "timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ'1970-01-01 00:00:00', `{f.name}`)"
            ).alias(f.name)
        return F.col(f.name)

    @functools.wraps(fn)
    def run(spark: SparkSession, sf: str) -> DataFrame:
        df = fn(spark, sf)
        if any(
            isinstance(f.dataType, (DecimalType, TimestampType, TimestampNTZType))
            for f in df.schema.fields
        ):
            df = df.select(*[canon_col(f) for f in df.schema.fields])
        return df

    return run


def _canon_sql(sql: str, casts: dict[str, str]) -> str:
    """Wrap an oracle so its DECIMAL/HUGEINT outputs leave as
    DOUBLE/BIGINT and its TIMESTAMP outputs as epoch-microsecond BIGINT
    (type token ``EPOCH_US``)."""
    reps = ", ".join(
        f"epoch_us({c}) AS {c}" if t == "EPOCH_US" else f"CAST({c} AS {t}) AS {c}"
        for c, t in casts.items()
    )
    return f"SELECT * REPLACE ({reps})\nFROM (\n{sql}\n) AS canon"


# ================================================================== r9
# Round-9 queries (registered this round at the window head): the
# round-8 operator families — checkpoint/restart, grouped top-k tiers,
# exactly-once sink audits, snapshot pinning/diff, compliance erasure —
# as gate queries + DuckDB oracles. Staged dormant during the r8
# certification freeze (plans/catalog_queries_r9.py, since merged here),
# parity-tested at sf0.001 AND sf0.01 before registration.
# Same conventions as the rest of the module (aliases identical on both
# sides, no DECIMAL/TIMESTAMP at the boundary, total-order windows,
# BIGINT casts over every DuckDB sum that would widen to HUGEINT).


# ------------------------------------------------- checkpoint/restart
#
# The operational face of 100 TB iteration (operators/checkpoint.py):
# a resumed run must be BIT-IDENTICAL to an uninterrupted one. q251
# makes that claim driver-auditable: it runs the q113 copurchase
# PageRank to iteration 2 WITH a checkpoint dir (two node-sized state
# parquets land eagerly inside the call), then issues the iters=3 call
# against the same dir — which must LOAD v000002 and execute only the
# third round. The oracle is q113's own 3-iteration unrolled CTE, so a
# resume that silently restarted from iteration 0 with damaged state,
# or double-applied a round, hash-mismatches. Exact BIGINT fixed-point
# state is what makes this a value equality, not a tolerance check.

def q251_pagerank_checkpoint_resume(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..operators.graph import pagerank

    # fresh dir per invocation: checkpoint state is stamped with the
    # operator config (damping, scale) but NOT the input scale factor,
    # so reusing a dir across sf0.001/sf0.01 runs would resume one
    # scale's ranks against the other's edges
    ckpt = tempfile.mkdtemp(prefix="q251_pr_ckpt_")

    # same edge derivation as q113 — literally the same helper, so
    # q251's reuse of q113's oracle can never silently drift.
    # Persisted here because BOTH pagerank calls consume it (pagerank
    # persists and unpersists its own projection internally, so nothing
    # survives between the calls without this outer persist).
    edges = _copurchase_edges(spark, sf).persist()

    # try/finally so a mid-run failure can't leak the scratch tree
    # across repeated gate/bench runs (ADVICE r9)
    try:
        # interrupted run: checkpoints v1, v2 are written EAGERLY (each
        # save is a parquet write action); the returned frame is unused
        pagerank(edges, iters=2, damping=0.85, checkpoint_dir=ckpt)
        # resumed run: loads v000002, executes round 3 only
        pr = pagerank(edges, iters=3, damping=0.85, checkpoint_dir=ckpt)
        out = pr.select(F.col("node").alias("part"), "rank")
        # the final ranks were reloaded from the round-3 checkpoint
        # files (pagerank saves the last round and reloads after each
        # save), so the result must be detached from BOTH the edge
        # cache and the about-to-be-deleted checkpoint dir before
        # cleanup
        out = out.localCheckpoint(eager=True)
    finally:
        edges.unpersist()
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


# q113's oracle IS q251's oracle: resume must equal straight-through.
Q251_SQL = Q113_SQL


# ---------------------------------------------------- grouped top-k
#
# operators/topk.py verified tier: sketch-nominated candidates
# (one bounded approx_top_k pass — the shuffle carries one state row
# per group per map partition, never the distinct key space), exact
# broadcast-join recount, total-order (cnt DESC, key ASC) cut. In the
# exact regime (distinct parts per flag ≈ 2k at sf0.01, 20k at sf0.1,
# both < max_items_tracked) the nomination is lossless, so the result
# equals the full groupBy answer — which is exactly what the plain-SQL
# oracle computes. Beyond the regime the sketch guarantee (tracked if
# freq > N_group/max_items_tracked) takes over and the EXACT tier is
# the audit path — the tier positioning the module docstring states.

def q252_grouped_topk_verified(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.topk import grouped_topk_verified

    li = _li(spark, sf)
    out = grouped_topk_verified(
        li,
        group_cols=["l_returnflag"],
        key_col="l_partkey",
        k=10,
        max_items_tracked=65536,
    )
    # row_number is INT on Spark, BIGINT on DuckDB — widen here
    return out.withColumn("rank", F.col("rank").cast("long"))


Q252_SQL = """
WITH c AS (
  SELECT l_returnflag, l_partkey AS key, count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT l_returnflag, key, cnt,
         row_number() OVER (
           PARTITION BY l_returnflag ORDER BY cnt DESC, key ASC
         ) AS rank
  FROM c
)
SELECT l_returnflag, key, cnt, rank FROM r WHERE rank <= 10
"""


# ------------------------------------------- mergeable sketch states
#
# The q128/q138 day-sketch pattern on the oracle gate: accumulate one
# approx_top_k state row per (l_returnflag, l_linestatus) ingest grain,
# then roll up to l_linestatus with approx_top_k_combine — cost ∝ state
# rows, raw data never re-scanned. In the exact regime (per-sketch AND
# combined distinct keys < max_items_tracked — the DataSketches
# frequent-items exact mode) every counter is exact, so the rollup
# hash-matches the plain recount oracle. The parquet round-trip of the
# state blob is pinned separately (tests/test_topk.py) — the query
# keeps the states in-plan so the gate run stays write-free.

def q253_topk_state_rollup(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.topk import topk_from_states, topk_state

    li = _li(spark, sf)
    states = topk_state(
        li,
        group_cols=["l_linestatus", "l_returnflag"],
        key_col="l_partkey",
        max_items_tracked=65536,
    )
    out = topk_from_states(
        states,
        group_cols=["l_linestatus"],
        k=15,
        max_items_tracked=65536,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


Q253_SQL = """
WITH c AS (
  SELECT l_linestatus, l_partkey AS key, count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT l_linestatus, key, cnt,
         row_number() OVER (
           PARTITION BY l_linestatus ORDER BY cnt DESC, key ASC
         ) AS rank
  FROM c
)
SELECT l_linestatus, key, cnt, rank FROM r WHERE rank <= 15
"""


# --------------------------------------------- exactly-once ledger
#
# streaming/audit.exactly_once_audit over a deterministically FAULTED
# sink: drop every 89th order key (a lost batch), replay every 97th (a
# retry between sink write and checkpoint commit), and inject phantom
# keys the source never had (a sink path collision) — the three
# failure modes the module docstring names, each planted so the ledger
# must report a non-zero count for it. Keys divisible by both 89 and
# 97 land exactly once (dropped, then replayed) — the ledger correctly
# reads them as neither over- nor under-delivered. Every output is an
# exact integer from one full-outer key join; the oracle is the same
# arithmetic in ANSI SQL.

def q254_delivery_ledger(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.audit import exactly_once_audit

    src = load_table(spark, sf, "orders").select("o_orderkey")
    delivered = src.filter(F.col("o_orderkey") % 89 != 0)
    replayed = src.filter(F.col("o_orderkey") % 97 == 0)
    phantom = src.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey")
    )
    sink = delivered.unionByName(replayed).unionByName(phantom)
    return exactly_once_audit(src, sink, ["o_orderkey"], expect="all_rows")


Q254_SQL = """
WITH src AS (SELECT o_orderkey FROM orders),
snk AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 89 <> 0
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS o_orderkey FROM orders
  WHERE o_orderkey % 101 = 0
),
s AS (SELECT o_orderkey, count(*) AS n_src FROM src GROUP BY 1),
k AS (SELECT o_orderkey, count(*) AS n_snk FROM snk GROUP BY 1),
j AS (
  SELECT coalesce(s.n_src, 0) AS n_src, coalesce(k.n_snk, 0) AS n_snk
  FROM s FULL OUTER JOIN k USING (o_orderkey)
),
g AS (
  SELECT n_src, n_snk,
         greatest(n_snk - n_src, 0) AS over_rows,
         greatest(n_src - n_snk, 0) AS under_rows
  FROM j
),
rep AS (
  SELECT
    CAST(coalesce(sum(n_src), 0) AS BIGINT) AS n_source_rows,
    CAST(coalesce(sum(CASE WHEN n_src > 0 THEN 1 END), 0) AS BIGINT)
      AS n_source_keys,
    CAST(coalesce(sum(n_snk), 0) AS BIGINT) AS n_sink_rows,
    CAST(coalesce(sum(CASE WHEN n_snk > 0 THEN 1 END), 0) AS BIGINT)
      AS n_sink_keys,
    CAST(coalesce(sum(CASE WHEN n_src > 0 AND over_rows > 0 THEN 1 END),
                  0) AS BIGINT) AS n_over_keys,
    CAST(coalesce(sum(CASE WHEN n_src > 0 THEN over_rows ELSE 0 END),
                  0) AS BIGINT) AS n_over_rows,
    CAST(coalesce(sum(CASE WHEN under_rows > 0 THEN 1 END), 0) AS BIGINT)
      AS n_under_keys,
    CAST(coalesce(sum(under_rows), 0) AS BIGINT) AS n_under_rows,
    CAST(coalesce(sum(CASE WHEN n_src = 0 AND n_snk > 0 THEN 1 END), 0)
      AS BIGINT) AS n_unexpected_keys
  FROM g
)
SELECT *,
       (n_over_rows = 0 AND n_under_rows = 0 AND n_unexpected_keys = 0)
         AS exactly_once
FROM rep
"""


# ------------------------------------------------ snapshot pinning
#
# sources/snapshots.py: reproducible "as of" reads over the
# batch-partitioned manifest sink. These queries build a real two-batch
# sink + manifest + snapshot log on disk (fresh tmp dir per call, same
# reasoning as q251), landing orders split by key parity as two ingest
# batches with a snapshot commit after each — then certify that the
# VERSION-1 pin still reads exactly batch 0 after the table grew
# (q255), that the commit ledger's per-version rollups and rows_added
# deltas are the exact batch arithmetic (q256), and that the v1→v2
# batch-set diff is exactly the second ingest batch (q258). The
# oracles derive from the orders table alone: the entire
# write→commit→pin→read round-trip through real parquet must land on
# numbers DuckDB computes without ever seeing the sink.

def _land_batch_with_stats(
    spark: SparkSession,
    df: DataFrame,
    sink: str,
    man: str,
    batch_id: int,
    stat_cols: list[str],
    log: str | None = None,
) -> None:
    """Land ONE ingest batch the way
    streaming/incremental.start_append_with_manifest lays the sink out:
    a ``batch=<id>`` partition (coalesce(1) — one file per batch, so the
    oracles' file-count arithmetic stays exact), its manifest rows
    (``manifest.write_batch_stats``), and optionally a snapshot commit.
    The batch-at-a-time sink fixture of the snapshot and erasure gate
    queries (q255–q262, q264, q265, q268); whole-sink landings use
    ``_land_partitioned``."""
    from ..sources.manifest import write_batch_stats

    df.coalesce(1).write.mode("overwrite").parquet(
        f"{sink}/batch={batch_id}"
    )
    write_batch_stats(spark, sink, man, batch_id, stat_cols)
    if log is not None:
        from ..sources.snapshots import commit_snapshot

        commit_snapshot(spark, man, log)


def _land_partitioned(
    spark: SparkSession,
    df: DataFrame,
    sink: str,
    man: str,
    stat_cols: list[str],
) -> None:
    """Land a ``batch``-partitioned frame as a whole sink plus its
    manifest: ONE partitioned write and ONE ``manifest.file_stats``
    scan over the sink root yield every batch's per-file rows, written
    partitioned by ``batch``. Landing batch by batch would cost a
    write, a scan and a manifest write per batch; the rows are the
    same."""
    from ..sources.manifest import file_stats

    df.write.partitionBy("batch").parquet(sink)
    file_stats(
        spark.read.option("basePath", sink).parquet(sink), stat_cols
    ).write.partitionBy("batch").parquet(man)


@contextlib.contextmanager
def _scratch(prefix: str):
    """mkdtemp whose removal is GUARANTEED (try/finally): any failure
    between the mkdtemp and the result detach — a parity mismatch
    raised mid-plan, an erase_rows guard raise, a write error — must
    not leak a per-invocation copy of the orders table under /tmp
    across repeated gate/bench/census runs (ADVICE r9). Results that
    read from the scratch tree must be materialized with
    ``localCheckpoint(eager=True)`` BEFORE the ``with`` block exits."""
    base = tempfile.mkdtemp(prefix=prefix)
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _fold_scalars(*one_row_aggs: DataFrame) -> list[int]:
    """The integer values of one-row, one-column aggregate frames, in
    argument order, from ONE action: each frame is tagged with its
    position, the frames are unioned and collected once. Control-plane
    scalars (audit counts, report totals) cost ~0.1–0.2 s of driver
    latency per action, so N separate collects pay that N times — the
    r14 fold took the chain family 12–44 % faster. Under AQE each
    aggregate that needs a shuffle still submits its own map-stage job
    inside the action. Persist a subtree that two or more of the frames
    read, or each branch of the union re-runs it."""
    tagged = [
        agg.toDF("v").select(F.lit(i), F.col("v").cast("long"))
        for i, agg in enumerate(one_row_aggs)
    ]
    vals = dict(map(tuple, functools.reduce(DataFrame.union, tagged).collect()))
    return [int(vals[i]) for i in range(len(one_row_aggs))]


def _erase_totals(report: DataFrame) -> tuple[int, int, int, int]:
    """(batches, batches rewritten, rows erased, rows after) summed over
    an ``erase_rows`` report in one action."""
    row = report.agg(
        F.count(F.lit(1)),
        F.sum(F.col("rewritten").cast("long")),
        F.sum("rows_erased"),
        F.sum("rows_after"),
    ).collect()[0]
    return tuple(int(v) for v in row)


def _land_orders_two_batches(
    spark: SparkSession, sf: str, base: str
) -> tuple[str, str, str]:
    """orders keys land as batch 0 (even keys) then batch 1 (odd), with
    manifest rows and a snapshot commit after each — the sink layout of
    streaming/incremental.start_append_with_manifest, built directly
    under the caller's ``_scratch`` base."""
    sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
    orders = load_table(spark, sf, "orders").select("o_orderkey")
    for batch_id, keep in ((0, 0), (1, 1)):
        part = orders.filter(F.col("o_orderkey") % 2 == keep)
        _land_batch_with_stats(
            spark, part, sink, man, batch_id, ["o_orderkey"], log=log
        )
    return sink, man, log


def q255_snapshot_as_of(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.snapshots import read_as_of

    with _scratch("q255_snap_") as base:
        sink, _, log = _land_orders_two_batches(spark, sf, base)
        return (
            read_as_of(spark, sink, log, 1)
            .select("o_orderkey")
            .localCheckpoint(eager=True)
        )


Q255_SQL = """
SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
"""


def q256_snapshot_ledger(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.snapshots import snapshot_ledger

    with _scratch("q256_snap_") as base:
        _, _, log = _land_orders_two_batches(spark, sf, base)
        return snapshot_ledger(spark, log).localCheckpoint(eager=True)


# coalesce(1) pins n_files to one per landed batch, so the ledger is
# pure batch arithmetic over the even/odd key split
Q256_SQL = """
WITH c AS (
  SELECT count(*) FILTER (WHERE o_orderkey % 2 = 0) AS even_rows,
         count(*) AS total_rows
  FROM orders
)
SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_batches,
       CAST(1 AS BIGINT) AS n_files, even_rows AS n_rows,
       even_rows AS rows_added
FROM c
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
       total_rows, total_rows - even_rows
FROM c
"""


def q258_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-training read: everything added between pin v1 and
    pin v2 — here, exactly the second (odd-key) ingest batch. Batch-set
    difference + static partition filter; no row-level anti-join."""
    from ..sources.snapshots import snapshot_diff

    with _scratch("q258_snap_") as base:
        sink, _, log = _land_orders_two_batches(spark, sf, base)
        return (
            snapshot_diff(spark, sink, log, 1, 2)
            .select("o_orderkey")
            .localCheckpoint(eager=True)
        )


Q258_SQL = """
SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 1
"""


# ------------------------------------------------ compliance erasure
#
# sources/retention.py: right-to-be-forgotten deletes as
# manifest-pruned targeted partition rewrites. The sink lands orders
# RANGE-clustered (keys ≤ max/2 → batch 0, rest → batch 1 — the layout
# where zone-map envelopes can prune), the opt-out list is every 100th
# key in the LOW half, and the query returns the erasure report: batch
# 0 rewritten with the exact erased count, batch 1 untouched because
# its envelope provably cannot contain a doomed key. The oracle
# recomputes the whole report from orders arithmetic — so the
# prune-decide-rewrite-restat machinery, run against real files, must
# land on DuckDB's numbers.

def q257_targeted_erasure(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.retention import erase_rows

    with _scratch("q257_erase_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        half = orders.agg(
            F.expr("max(o_orderkey) div 2").alias("h")
        ).collect()[0]["h"]
        for batch_id, part in (
            (0, orders.filter(F.col("o_orderkey") <= half)),
            (1, orders.filter(F.col("o_orderkey") > half)),
        ):
            _land_batch_with_stats(
                spark, part, sink, man, batch_id, ["o_orderkey"]
            )
        optout = orders.filter(
            (F.col("o_orderkey") % 100 == 0) & (F.col("o_orderkey") <= half)
        )
        # the report is createDataFrame'd from driver-side scalars —
        # already detached from the scratch sink
        return erase_rows(spark, sink, man, "o_orderkey", optout)


Q257_SQL = """
WITH h AS (SELECT max(o_orderkey) // 2 AS half FROM orders),
lo AS (SELECT count(*) AS n FROM orders, h WHERE o_orderkey <= half),
hi AS (SELECT count(*) AS n FROM orders, h WHERE o_orderkey > half),
er AS (SELECT count(*) AS n FROM orders, h
       WHERE o_orderkey % 100 = 0 AND o_orderkey <= half)
SELECT CAST(0 AS BIGINT) AS batch, true AS rewritten,
       lo.n AS rows_before, er.n AS rows_erased,
       lo.n - er.n AS rows_after
FROM lo, er
UNION ALL
SELECT CAST(1 AS BIGINT) AS batch, false AS rewritten,
       hi.n AS rows_before, CAST(0 AS BIGINT) AS rows_erased,
       hi.n AS rows_after
FROM hi
"""


# --------------------------------------------- damage-class audits
#
# The two r8 audit operators that had tests but no driver-auditable
# gate query (VERDICT r8 item 3), certified with the q254/q257
# deterministic-fault pattern: build a real sink, plant EXACT damage,
# and oracle the report DuckDB-side from orders arithmetic — so the
# filesystem round-trip (partition listing, input_file_name rollup,
# full-outer reconciliation) must land on independently computed
# numbers. q259: a pinned reader's snapshot goes stale two ways at
# once — retention ate member batch 0 (vacuum-delete) and a replay
# landed DIFFERENT content in batch 1 (rewritten dropping keys
# divisible by 3) — and the drift audit must report exactly one
# missing batch, exactly one drifted batch, and the exact recorded vs
# current row totals. q260: the manifest's three damage classes
# planted one each — a stale row (batch 0's data file deleted, its
# manifest row kept), an unenveloped file (a part file moved into
# batch 1 behind the manifest's back), and a stats drift (batch 1's
# recorded n_rows bumped by 3) — the classification constants are the
# oracle; any misclassification (e.g. counting the unenveloped file's
# rows into a mismatch) breaks the hash.

def q259_snapshot_drift_audit(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.snapshots import snapshot_drift_audit

    with _scratch("q259_snap_") as base:
        sink, _, log = _land_orders_two_batches(spark, sf, base)
        # retention ate member batch 0 after the version-2 commit
        shutil.rmtree(f"{sink}/batch=0", ignore_errors=True)
        # a replay rewrote batch 1 with different content (odd keys not
        # divisible by 3) — reads from the SOURCE table, so no
        # read-overwrite conflict with the sink path being replaced
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        (
            orders.filter(
                (F.col("o_orderkey") % 2 == 1)
                & (F.col("o_orderkey") % 3 != 0)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{sink}/batch=1")
        )
        return snapshot_drift_audit(spark, sink, log, 2).localCheckpoint(
            eager=True
        )


Q259_SQL = """
WITH c AS (
  SELECT count(*) AS total,
         count(*) FILTER (
           WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 <> 0
         ) AS surv
  FROM orders
)
SELECT CAST(2 AS BIGINT) AS n_batches,
       CAST(1 AS BIGINT) AS n_missing_batches,
       CAST(1 AS BIGINT) AS n_row_drift_batches,
       total AS n_rows_recorded,
       surv AS n_rows_current,
       false AS reproducible
FROM c
"""


def q260_manifest_consistency_audit(
    spark: SparkSession, sf: str
) -> DataFrame:
    import glob
    import os

    from ..sources.manifest import replace_batches
    from ..streaming.audit import manifest_consistency_audit

    with _scratch("q260_snap_") as base:
        sink, man, _ = _land_orders_two_batches(spark, sf, base)
        # damage 1 — stale manifest row: batch 0's (only) data file
        # vanishes from disk while its manifest row survives
        for f in glob.glob(f"{sink}/batch=0/*.parquet"):
            os.remove(f)
        # damage 2 — unenveloped file: a part file lands in batch 1
        # behind the manifest's back (crash between data write and
        # manifest write). Written via a scratch dir so the writer-UUID
        # name cannot collide with batch 1's existing file; even keys
        # guarantee the file is non-empty (an empty parquet file would
        # be invisible to the input_file_name rollup and the plant
        # would silently no-op).
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        with _scratch("q260_extra_") as scratch:
            orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(
                1
            ).write.mode("overwrite").parquet(scratch)
            extra = glob.glob(f"{scratch}/*.parquet")[0]
            shutil.move(extra, f"{sink}/batch=1/{os.path.basename(extra)}")
        # damage 3 — stats drift: batch 1's recorded n_rows bumped by 3
        # (stats from a different write than what survived).
        # Materialized BEFORE the dynamic overwrite: the drifted rows
        # are computed from the same path being replaced.
        drifted = (
            spark.read.parquet(man)
            .filter(F.col("batch") == 1)
            .withColumn("n_rows", F.col("n_rows") + F.lit(3))
            .localCheckpoint(eager=True)
        )
        replace_batches(drifted, man)
        return manifest_consistency_audit(spark, sink, man).localCheckpoint(
            eager=True
        )


# one planted fault per damage class — the classification itself is
# the oracle: 2 files on disk (batch 1's original + the unenveloped
# plant), 2 manifest rows (batch 0 stale + batch 1 drifted), one
# violation of each class, consistent = false
Q260_SQL = """
SELECT CAST(2 AS BIGINT) AS n_data_files,
       CAST(2 AS BIGINT) AS n_manifest_files,
       CAST(1 AS BIGINT) AS n_stale_manifest_rows,
       CAST(1 AS BIGINT) AS n_unenveloped_files,
       CAST(1 AS BIGINT) AS n_row_mismatches,
       false AS consistent
"""


# ---------------------------------- schema evolution + z-order erase
#
# Growth past the staged batch (VERDICT r8 item 7, first two
# candidates). q261: column addition mid-table under snapshot pins —
# batch 0 lands pre-evolution (o_orderkey only), v1 committed; batch 1
# lands EVOLVED (adds o_total_cents), v2 committed. The report
# certifies the whole schema-reproducibility contract through real
# files: the v1 pin's column list must NOT contain the evolved column
# (path-scoped mergeSchema read — a root-path read would
# nondeterministically sprout it from the newer batch's footer), the
# v2 pin merges with NULLs for the pre-evolution batch (null-count =
# batch 0's rows), and the evolved column aggregates exactly (cents
# from the proven decimal-cast idiom, exact on both engines). q262:
# the compliance delete on a GRID-clustered layout — orders landed as
# a 2x2 (custkey half × orderkey half) grid with two-column manifest
# envelopes, opt-out tuples confined to the low-low cell. Composite
# envelopes prune MULTIPLICATIVELY: only the low-low cell can contain
# a doomed (custkey, orderkey) tuple, so exactly one of four batches
# is rewritten — a custkey-only envelope would have rewritten the
# whole low-custkey stripe (both low-cust cells). The oracle
# recomputes the per-cell report from orders arithmetic.

def q261_schema_evolution_pin(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.snapshots import read_as_of

    with _scratch("q261_evo_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        orders = load_table(spark, sf, "orders")
        cents = F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        )
        b0 = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
        b1 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", cents.alias("o_total_cents")
        )
        for bid, part in ((0, b0), (1, b1)):
            _land_batch_with_stats(
                spark, part, sink, man, bid, ["o_orderkey"], log=log
            )
        v1 = read_as_of(spark, sink, log, 1)
        v2 = read_as_of(spark, sink, log, 2)
        # the report row is driver-side scalars — already detached
        row = (
            ",".join(sorted(v1.columns)),
            ",".join(sorted(v2.columns)),
            v1.count(),
            v2.count(),
            v2.filter(F.col("o_total_cents").isNull()).count(),
            int(v2.agg(F.sum("o_total_cents")).collect()[0][0]),
        )
    return spark.createDataFrame(
        [row],
        "v1_cols STRING, v2_cols STRING, v1_rows BIGINT, v2_rows BIGINT, "
        "v2_null_cents_rows BIGINT, v2_total_cents BIGINT",
    )


Q261_SQL = """
WITH c AS (
  SELECT count(*) FILTER (WHERE o_orderkey % 2 = 0) AS even_n,
         count(*) AS total_n,
         CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           END) AS BIGINT) AS cents
  FROM orders
)
SELECT 'batch,o_orderkey' AS v1_cols,
       'batch,o_orderkey,o_total_cents' AS v2_cols,
       even_n AS v1_rows,
       total_n AS v2_rows,
       even_n AS v2_null_cents_rows,
       cents AS v2_total_cents
FROM c
"""


def q262_grid_erasure(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.retention import erase_rows

    with _scratch("q262_grid_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey"
        )
        h = orders.agg(
            F.expr("max(o_custkey) div 2").alias("hc"),
            F.expr("max(o_orderkey) div 2").alias("ho"),
        ).collect()[0]
        hc, ho = h["hc"], h["ho"]
        cells = {
            0: (F.col("o_custkey") <= hc) & (F.col("o_orderkey") <= ho),
            1: (F.col("o_custkey") <= hc) & (F.col("o_orderkey") > ho),
            2: (F.col("o_custkey") > hc) & (F.col("o_orderkey") <= ho),
            3: (F.col("o_custkey") > hc) & (F.col("o_orderkey") > ho),
        }
        for bid, pred in cells.items():
            _land_batch_with_stats(
                spark,
                orders.filter(pred),
                sink,
                man,
                bid,
                ["o_custkey", "o_orderkey"],
            )
        optout = orders.filter(
            (F.col("o_custkey") <= hc)
            & (F.col("o_orderkey") <= ho)
            & (F.col("o_orderkey") % 50 == 0)
        ).select("o_custkey", "o_orderkey")
        # report rows are createDataFrame'd driver scalars — detached
        return erase_rows(
            spark, sink, man, ["o_custkey", "o_orderkey"], optout
        )


Q262_SQL = """
WITH h AS (
  SELECT max(o_custkey) // 2 AS hc, max(o_orderkey) // 2 AS ho
  FROM orders
),
cells AS (
  SELECT o.*,
         CASE WHEN o_custkey <= hc AND o_orderkey <= ho THEN 0
              WHEN o_custkey <= hc AND o_orderkey >  ho THEN 1
              WHEN o_custkey >  hc AND o_orderkey <= ho THEN 2
              ELSE 3 END AS cell,
         (o_custkey <= hc AND o_orderkey <= ho
          AND o_orderkey % 50 = 0) AS doomed
  FROM orders o, h
)
SELECT CAST(cell AS BIGINT) AS batch,
       (cell = 0) AS rewritten,
       count(*) AS rows_before,
       CAST(coalesce(sum(CASE WHEN doomed THEN 1 END), 0) AS BIGINT)
         AS rows_erased,
       count(*) - CAST(coalesce(sum(CASE WHEN doomed THEN 1 END), 0)
         AS BIGINT) AS rows_after
FROM cells
GROUP BY cell
"""


# ------------------------------------------------- late-event audit
#
# The ops question behind every watermark setting: "how much of my
# data would this watermark drop or only partially count?" — the batch
# twin of the streaming hopping-aggregate late-data semantics that
# tests/test_streaming.py pins end-to-end (run-split checkpointed
# stream). Arrival order is modelled as event time plus a
# deterministic md5-jittered network delay (0..2 h — the same portable
# md5-prefix integer used by the fingerprint family), the running
# watermark is max prior ARRIVED event time minus the 10-minute
# allowance, and each event is classified against its 1h/30m hopping
# windows exactly as the streaming engine would: `dropped` (all its
# windows already closed), `partial` (only its latest window still
# open), `ontime`. Everything is integer microsecond arithmetic —
# exact on both engines.
# Scale note: the running watermark is an arrival-ORDER scan, so this
# is the eval/audit tier (one global sort; at production scale the
# watermark is tracked per micro-batch boundary, not per row — the
# streaming module does exactly that, and this audit sizes the
# lateness allowance before deployment).

def q263_late_event_audit(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.hashing import md5_prefix_long

    ev = load_table(spark, sf, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    delay = md5_prefix_long(F.col("event_id").cast("string")) % F.lit(
        7_200_000_000
    )
    e = ev.select(
        "event_id",
        "event_type",
        us.alias("us"),
        (us + delay).alias("arrival_us"),
    )
    w = (
        Window.orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    e = e.select(
        "event_type",
        (F.max("us").over(w) - F.lit(600_000_000)).alias("wm"),
        (
            F.col("us") - F.col("us") % F.lit(1_800_000_000)
            + F.lit(3_600_000_000)
        ).alias("late_end"),
    )
    cls = (
        F.when(F.col("wm").isNull(), F.lit("ontime"))
        .when(F.col("late_end") <= F.col("wm"), F.lit("dropped"))
        .when(
            F.col("late_end") - F.lit(1_800_000_000) <= F.col("wm"),
            F.lit("partial"),
        )
        .otherwise(F.lit("ontime"))
    )
    return (
        e.select("event_type", cls.alias("cls"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("cls") == "dropped").cast("long")).alias(
                "n_dropped"
            ),
            F.sum((F.col("cls") == "partial").cast("long")).alias(
                "n_partial"
            ),
            F.sum((F.col("cls") == "ontime").cast("long")).alias("n_ontime"),
        )
    )


Q263_SQL = """
WITH e AS (
  SELECT event_id, event_type, epoch_us(ts) AS us,
         epoch_us(ts)
           + CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 7200000000 AS arrival_us
  FROM events
), w AS (
  SELECT event_type,
         max(us) OVER (ORDER BY arrival_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - 600000000 AS wm,
         us - us % 1800000000 + 3600000000 AS late_end
  FROM e
), c AS (
  SELECT event_type,
         CASE WHEN wm IS NULL THEN 'ontime'
              WHEN late_end <= wm THEN 'dropped'
              WHEN late_end - 1800000000 <= wm THEN 'partial'
              ELSE 'ontime' END AS cls
  FROM w
)
SELECT event_type,
       count(*) AS n_events,
       CAST(coalesce(sum(CASE WHEN cls = 'dropped' THEN 1 END), 0)
         AS BIGINT) AS n_dropped,
       CAST(coalesce(sum(CASE WHEN cls = 'partial' THEN 1 END), 0)
         AS BIGINT) AS n_partial,
       CAST(coalesce(sum(CASE WHEN cls = 'ontime' THEN 1 END), 0)
         AS BIGINT) AS n_ontime
FROM c
GROUP BY event_type
"""


# --------------------------------------- retention-aware maintenance
#
# q264: the snapshot LOG under retention — three commits, then
# checkpoint-store vacuum keeps the newest two. The ledger must report
# exactly the surviving versions with the documented boundary
# semantics: the OLDEST SURVIVING version counts all its rows as added
# (its predecessor is gone, so there is nothing to delta against),
# while later versions keep true deltas. The oracle recomputes both
# ledger rows from the key-mod-3 batch arithmetic. q265: the
# incremental-maintenance identity every 100 TB rollup pipeline relies
# on — a serving aggregate built from pin v1 and then UPDATED with
# only snapshot_diff(v1, v2) must equal the full recompute at v2. The
# merged two-stage rollup (partial aggregates unioned, re-aggregated)
# runs through real files and both pins; the oracle is the plain
# one-shot rollup over orders. Any diff leak (duplicated batch, missed
# batch, schema drift) breaks the hash.

def q264_log_retention_ledger(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.checkpoint import vacuum
    from ..sources.snapshots import snapshot_ledger

    with _scratch("q264_logret_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        for bid in (0, 1, 2):
            part = orders.filter(F.col("o_orderkey") % 3 == bid)
            _land_batch_with_stats(
                spark, part, sink, man, bid, ["o_orderkey"], log=log
            )
        vacuum(spark, log, keep_last=2)  # v1 gone; v2 is now the oldest
        return snapshot_ledger(spark, log).localCheckpoint(eager=True)


Q264_SQL = """
WITH c AS (
  SELECT count(*) FILTER (WHERE o_orderkey % 3 = 0) AS n0,
         count(*) FILTER (WHERE o_orderkey % 3 = 1) AS n1,
         count(*) FILTER (WHERE o_orderkey % 3 = 2) AS n2
  FROM orders
)
SELECT CAST(2 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_batches,
       CAST(2 AS BIGINT) AS n_files, n0 + n1 AS n_rows,
       n0 + n1 AS rows_added
FROM c
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT),
       n0 + n1 + n2, n2
FROM c
"""


def q265_incremental_rollup_via_diff(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..sources.snapshots import read_as_of, snapshot_diff

    with _scratch("q265_incr_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        cents = F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        )
        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_orderpriority", cents.alias("cents")
        )
        for bid, keep in ((0, 0), (1, 1)):
            part = orders.filter(F.col("o_orderkey") % 2 == keep)
            _land_batch_with_stats(
                spark, part, sink, man, bid, ["o_orderkey"], log=log
            )

        def rollup(df: DataFrame) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count("*").alias("n_orders"),
                F.sum("cents").alias("total_cents"),
            )

        served = rollup(read_as_of(spark, sink, log, 1))  # at pin v1
        delta = rollup(snapshot_diff(spark, sink, log, 1, 2))  # update
        return (
            served.unionByName(delta)
            .groupBy("o_orderpriority")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                F.sum("total_cents").alias("total_cents"),
            )
            # detach before the sink vanishes
            .localCheckpoint(eager=True)
        )


Q265_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         AS BIGINT) AS total_cents
FROM orders
GROUP BY o_orderpriority
"""


# ------------------------------------------------------ data contracts
#
# q266: the CHECK face of operators/expectations.py — a five-line
# contract over lineitem with every verdict class represented on real
# data: passing error lines with zero budget (returnflag domain,
# positive price), a passing warn line with measured headroom (quantity
# cap: ~99k ppm against a 200k budget), a FAILING warn line (deep
# discounts run ~448k ppm against a 400k budget at every SF — the
# generator's uniform discount makes the rate scale-stable), all from
# ONE conditional-aggregation scan. The oracle recomputes every count,
# the integer-ppm division, and the verdict booleans. q267: the ENFORCE
# face — a referential contract over the orders←lineitem join
# certifying the gate's pass path (the collected-and-rebuilt report
# must hash-match SQL): the warn line FAILS its 10k budget (visible in
# the report, non-blocking) while the error lines pass, so the gate
# RETURNS rather than raises — certifying severity routing end to end,
# not just arithmetic. Both were parity-tested dormant at sf0.001 AND
# sf0.01 before the r10 registration (staged in catalog_queries_r10.py,
# merged here at the rotation — a back-import would be circular).


def q266_lineitem_contract(spark: SparkSession, sf: str) -> DataFrame:
    li = _li(spark, sf)
    contract = {
        "returnflag_domain": Expectation(
            F.col("l_returnflag").isNull()
            | ~F.col("l_returnflag").isin("A", "N", "R")
        ),
        "positive_price": Expectation(F.col("l_extendedprice") <= 0),
        "key_not_null": Expectation(
            F.col("l_orderkey").isNull() | F.col("l_partkey").isNull()
        ),
        "qty_cap": Expectation(
            F.col("l_quantity") > 45, max_ppm=200_000, severity="warn"
        ),
        "deep_discount": Expectation(
            F.col("l_discount") > 0.05, max_ppm=400_000, severity="warn"
        ),
    }
    return check_expectations(li, contract)


Q266_SQL = """
WITH c AS (
  SELECT count(*) AS n,
    count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')
                        OR l_returnflag IS NULL) AS v_rf,
    count(*) FILTER (WHERE l_extendedprice <= 0) AS v_px,
    count(*) FILTER (WHERE l_orderkey IS NULL
                        OR l_partkey IS NULL) AS v_nk,
    count(*) FILTER (WHERE l_quantity > 45) AS v_q,
    count(*) FILTER (WHERE l_discount > 0.05) AS v_d
  FROM lineitem
), e AS (
  SELECT 'returnflag_domain' AS expectation, 'error' AS severity,
         v_rf AS v, CAST(0 AS BIGINT) AS max_ppm FROM c
  UNION ALL
  SELECT 'positive_price', 'error', v_px, 0 FROM c
  UNION ALL
  SELECT 'key_not_null', 'error', v_nk, 0 FROM c
  UNION ALL
  SELECT 'qty_cap', 'warn', v_q, 200000 FROM c
  UNION ALL
  SELECT 'deep_discount', 'warn', v_d, 400000 FROM c
)
SELECT expectation, severity, c.n AS n_rows,
       CAST(v AS BIGINT) AS n_violations,
       CAST(v * 1000000 // c.n AS BIGINT) AS violation_ppm,
       max_ppm,
       v * 1000000 // c.n <= max_ppm AS passed
FROM e, c
"""


def q267_referential_gate(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li_keys = (
        _li(spark, sf).select(F.col("l_orderkey").alias("lk")).distinct()
    )
    joined = orders.join(
        li_keys, orders["o_orderkey"] == F.col("lk"), "left"
    )
    contract = {
        "order_key_not_null": Expectation(F.col("o_orderkey").isNull()),
        "positive_total": Expectation(F.col("o_totalprice") <= 0),
        # the generator plants unbilled orders (~17k ppm, the q250
        # family): over the 10k warn budget at every SF — the gate must
        # REPORT the failure and still return (severity routing)
        "orders_have_lines": Expectation(
            F.col("lk").isNull(), max_ppm=10_000, severity="warn"
        ),
    }
    return enforce_expectations(joined, contract)


Q267_SQL = """
WITH j AS (
  SELECT o.o_orderkey, o.o_totalprice, l.l_orderkey AS lk
  FROM orders o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
    ON o.o_orderkey = l.l_orderkey
), c AS (
  SELECT count(*) AS n,
    count(*) FILTER (WHERE o_orderkey IS NULL) AS v_k,
    count(*) FILTER (WHERE o_totalprice <= 0) AS v_t,
    count(*) FILTER (WHERE lk IS NULL) AS v_u
  FROM j
), e AS (
  SELECT 'order_key_not_null' AS expectation, 'error' AS severity,
         v_k AS v, CAST(0 AS BIGINT) AS max_ppm FROM c
  UNION ALL
  SELECT 'positive_total', 'error', v_t, 0 FROM c
  UNION ALL
  SELECT 'orders_have_lines', 'warn', v_u, 10000 FROM c
)
SELECT expectation, severity, c.n AS n_rows,
       CAST(v AS BIGINT) AS n_violations,
       CAST(v * 1000000 // c.n AS BIGINT) AS violation_ppm,
       max_ppm,
       v * 1000000 // c.n <= max_ppm AS passed
FROM e, c
"""


# --------------------------------------------- cross-batch contracts
#
# q268: the LEDGER face of the data-contract layer (VERDICT r9 item 3)
# — a real promotion gate at 100 TB checks each commit AGAINST HISTORY,
# not just rows inside it. Three commits land with a planted volume
# drop (batch 0 = half the keys, batches 1-2 = a quarter each), then
# check_batch_expectations evaluates three history contracts over the
# snapshot ledger: row-count monotonicity and added-rows positivity
# pass (error lines), while the added-volume drift bound (±40% of the
# previous commit's add) FAILS at version 2 — visible in the report
# with first_bad_version=2, non-blocking at warn severity. The drift
# margin is scale-stable: the mod-4 key split makes v2's add ~50% below
# v1's at every SF. The oracle rebuilds the ledger rows from orders
# arithmetic, replays the lag window and every verdict in SQL.

def q268_ledger_contract(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.snapshots import snapshot_ledger

    with _scratch("q268_ledg_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        for bid, pred in (
            (0, F.col("o_orderkey") % 4 <= 1),
            (1, F.col("o_orderkey") % 4 == 2),
            (2, F.col("o_orderkey") % 4 == 3),
        ):
            _land_batch_with_stats(
                spark,
                orders.filter(pred),
                sink,
                man,
                bid,
                ["o_orderkey"],
                log=log,
            )
        ledger = snapshot_ledger(spark, log)
        contract = {
            "row_count_monotone": Expectation(
                F.col("n_rows") < F.col("prev_n_rows")
            ),
            "added_positive": Expectation(F.col("rows_added") <= 0),
            # |n1 - n0| * 100 > 40 * n0 at v2 (the planted ~50% drop);
            # v3's add is within a few percent of v2's — 1 violation
            "added_drift_bounded": Expectation(
                F.abs(F.col("rows_added") - F.col("prev_rows_added")) * 100
                > 40 * F.col("prev_rows_added"),
                severity="warn",
            ),
        }
        return check_batch_expectations(
            ledger, "version", contract
        ).localCheckpoint(eager=True)


Q268_SQL = """
WITH c AS (
  SELECT count(*) FILTER (WHERE o_orderkey % 4 <= 1) AS n0,
         count(*) FILTER (WHERE o_orderkey % 4 = 2) AS n1,
         count(*) FILTER (WHERE o_orderkey % 4 = 3) AS n2
  FROM orders
), l AS (
  SELECT 1 AS version, n0 AS n_rows, n0 AS rows_added FROM c
  UNION ALL SELECT 2, n0 + n1, n1 FROM c
  UNION ALL SELECT 3, n0 + n1 + n2, n2 FROM c
), a AS (
  SELECT version, n_rows, rows_added,
         lag(n_rows) OVER (ORDER BY version) AS p_rows,
         lag(rows_added) OVER (ORDER BY version) AS p_add
  FROM l
), v AS (
  SELECT 'row_count_monotone' AS expectation, 'error' AS severity,
         count(*) AS n_versions,
         count(*) FILTER (WHERE n_rows < p_rows) AS n_violations,
         min(version) FILTER (WHERE n_rows < p_rows)
           AS first_bad_version,
         CAST(0 AS BIGINT) AS max_ppm
  FROM a
  UNION ALL
  SELECT 'added_positive', 'error', count(*),
         count(*) FILTER (WHERE rows_added <= 0),
         min(version) FILTER (WHERE rows_added <= 0), 0
  FROM a
  UNION ALL
  SELECT 'added_drift_bounded', 'warn', count(*),
         count(*) FILTER (WHERE abs(rows_added - p_add) * 100
                            > 40 * p_add),
         min(version) FILTER (WHERE abs(rows_added - p_add) * 100
                                > 40 * p_add), 0
  FROM a
)
SELECT expectation, severity, CAST(n_versions AS BIGINT) AS n_versions,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(first_bad_version AS BIGINT) AS first_bad_version,
       max_ppm,
       n_violations * 1000000 // n_versions <= max_ppm AS passed
FROM v
"""


# --------------------------------- approx top-k truncation honesty
#
# q269: the sketch tier's truncation-regime guarantee under the
# driver's gate (VERDICT r9 item 4) — the q35 HLL pattern: exact
# columns recomputed by the oracle, guarantee booleans compared against
# literal true, so a guarantee break is a hash mismatch, not a silent
# drift. Keys are l_partkey with every 10th key collapsed to -1 — a
# planted ~10% heavy hitter per returnflag group, far above the
# N/max_tracked ≈ 1.6% tracking threshold, while the remaining ~180
# (sf0.001) to ~18k (sf0.1) distinct keys keep the 64-item sketch
# firmly in the truncation regime at every SF. band_ok asserts every
# fetched estimate sits within the two-sided N/max_tracked band the
# property test measures (test_topk.py; integer comparison —
# |err| * max_tracked <= n_rows — no doubles); tracking_ok asserts no
# guaranteed-tracked heavy key was lost. Measured at all three SFs:
# estimates are EXACT (error 0) and all 3 planted heavies survive, so
# both booleans are deterministically true with the full band as
# margin. Capacity fetch (k = fetch_n = max_items_tracked) keeps the
# fetch-boundary guard disarmed by construction — nothing tracked is
# left behind.

def q269_topk_truncation_band(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..operators.topk import grouped_topk_approx

    mt = 64
    li = _li(spark, sf).select(
        "l_returnflag",
        F.when(F.col("l_partkey") % 10 == 0, F.lit(-1))
        .otherwise(F.col("l_partkey"))
        .alias("key"),
    )
    li = li.persist()  # feeds the sketch, the exact twin and the totals
    est = grouped_topk_approx(
        li, ["l_returnflag"], "key", k=mt, max_items_tracked=mt,
        fetch_factor=1,
    )
    exact = li.groupBy("l_returnflag", "key").agg(
        F.count("*").alias("true_cnt")
    )
    totals = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("key").alias("n_keys"),
    )
    j = est.join(exact, ["l_returnflag", "key"]).join(
        totals, "l_returnflag"
    )
    per_flag = j.groupBy("l_returnflag", "n_rows", "n_keys").agg(
        F.count("*").alias("n_est"),
        F.sum(
            F.when(
                F.abs(F.col("cnt") - F.col("true_cnt")) * mt
                <= F.col("n_rows"),
                1,
            ).otherwise(0)
        ).alias("n_in_band"),
    )
    heavy = exact.join(totals, "l_returnflag").filter(
        F.col("true_cnt") * mt > F.col("n_rows")
    )
    missing = (
        heavy.join(est, ["l_returnflag", "key"], "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_missing"))
    )
    return per_flag.join(missing, ["l_returnflag"], "left").select(
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        (F.col("n_in_band") == F.col("n_est")).alias("band_ok"),
        (F.coalesce(F.col("n_missing"), F.lit(0)) == 0).alias(
            "tracking_ok"
        ),
    )


Q269_SQL = """
WITH k AS (
  SELECT l_returnflag,
         CASE WHEN l_partkey % 10 = 0 THEN -1 ELSE l_partkey END AS key
  FROM lineitem
)
SELECT l_returnflag, count(*) AS n_rows,
       CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
       true AS band_ok, true AS tracking_ok
FROM k GROUP BY l_returnflag
"""


# ------------------------------------------- bloom point-prune tier
#
# q270: the Bloom manifest tier (sources/bloom.py, r10) under the
# driver's gate. The envelope tier prunes range-clustered layouts and
# honestly degrades on random ones — this query builds the HOSTILE
# layout (orders hashed into 8 batches by the portable md5 bucket, so
# every batch's [min,max] spans ~the whole key space) and point-looks-up
# 3 keys. The oracle recomputes the batch assignment, the per-batch
# envelopes, the envelope-candidate count and the true-hit-batch count
# EXACTLY in SQL (md5-bucket is the cross-engine hash); the bloom
# columns follow the q269/q35 guarantee-boolean pattern — the oracle
# pins them at literal true, so a lost containment (false negative,
# impossible by construction) or a bloom that stopped pruning at all
# hash-mismatches the gate instead of drifting silently. Sizing: 2^18
# bits vs ≤19k distinct keys/batch at sf0.1 keeps the false-positive
# rate ≤ ~1%, and the booleans are deterministic for fixed data+seed.

def q270_bloom_point_prune(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import hash_bucket
    from ..sources.bloom import bloom_candidates, collect_batch_blooms

    nb, n_bits = 8, 1 << 18
    with _scratch("q270_bloom_") as base:
        sink = f"{base}/sink"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        df = orders.select(
            "o_orderkey", hash_bucket("o_orderkey", nb).alias("batch")
        )
        df.write.partitionBy("batch").parquet(sink)
        # feeds the envelope agg, both true-pair consumers and the
        # bloom collection — persist (PERF.md rule: 2+ consumers)
        src = (
            spark.read.option("basePath", sink).parquet(sink).persist()
        )
        keys = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .orderBy("o_orderkey")
            .limit(3)
            .persist()  # 3 rows, feeds 4 consumers below
        )
        env = src.groupBy("batch").agg(
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
        )
        true_pairs = src.join(keys, "o_orderkey").select(
            "batch", "o_orderkey"
        )
        blooms = collect_batch_blooms(
            spark, sink, "o_orderkey", n_bits=n_bits
        )
        cand = bloom_candidates(
            blooms, keys, "o_orderkey"
        ).persist()  # feeds the miss check AND the candidate count
        n_keys, n_env, n_hit, n_missed, n_bloom = _fold_scalars(
            keys.groupBy().count(),
            env.join(
                keys,
                (F.col("o_orderkey") >= F.col("lo"))
                & (F.col("o_orderkey") <= F.col("hi")),
                "left_semi",
            ).groupBy().count(),
            true_pairs.agg(F.count_distinct("batch")),
            true_pairs.join(
                cand, ["batch", "o_orderkey"], "left_anti"
            ).groupBy().count(),
            cand.agg(F.count_distinct("batch")),
        )
        cand.unpersist()
        keys.unpersist()
        src.unpersist()  # scratch sink — gone when the context exits
        return spark.createDataFrame(
            [
                (
                    nb,
                    n_keys,
                    n_env,
                    n_hit,
                    n_missed == 0,
                    n_bloom < nb,
                )
            ],
            "n_batches BIGINT, n_keys BIGINT, "
            "n_envelope_candidate_batches BIGINT, "
            "n_true_hit_batches BIGINT, no_false_negatives BOOLEAN, "
            "bloom_pruned BOOLEAN",
        )


Q270_SQL = """
WITH b AS (
  SELECT o_orderkey,
         CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS INT) AS batch
  FROM orders
), k AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey LIMIT 3
), env AS (
  SELECT batch, min(o_orderkey) AS lo, max(o_orderkey) AS hi
  FROM b GROUP BY batch
), envc AS (
  SELECT count(*) AS n FROM env
  WHERE EXISTS (SELECT 1 FROM k
                WHERE k.o_orderkey BETWEEN env.lo AND env.hi)
), hits AS (
  SELECT count(DISTINCT b.batch) AS n FROM b JOIN k USING (o_orderkey)
)
SELECT CAST(8 AS BIGINT) AS n_batches,
       (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_keys,
       CAST(envc.n AS BIGINT) AS n_envelope_candidate_batches,
       CAST(hits.n AS BIGINT) AS n_true_hit_batches,
       true AS no_false_negatives,
       true AS bloom_pruned
FROM envc, hits
"""


# ----------------------------------------- multi-batch erasure gate
#
# q271: the r10 BATCHED erasure path (one rewrite job per schema
# group, SCALE_AUDIT.md probe) under the driver's gate, at a hit-set
# shape the grid-of-4 (q262) never exercised: 12 range-clustered
# batches, an opt-out list enveloped by THREE of them — sparse hits in
# batches 2 and 7 plus EVERY key of batch 5, so the fully-emptied
# branch (zero-row schema-bearing file, manifest rows dropped) runs
# against real files under the gate. The oracle replays the range
# arithmetic, the conservative envelope decision (EXISTS doomed key
# within [lo,hi]) and all four exact-integer report columns in SQL.

def q271_multibatch_erasure(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.retention import erase_rows

    with _scratch("q271_erase_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        w = orders.agg(
            (F.expr("max(o_orderkey) div 12") + 1).alias("w")
        ).collect()[0]["w"]
        df = orders.select(
            "o_orderkey",
            F.expr(f"o_orderkey div {w}").cast("int").alias("batch"),
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey"])
        doomed = df.filter(
            (F.col("batch") == 5)
            | ((F.col("o_orderkey") % 7 == 0) & F.col("batch").isin(2, 7))
        ).select("o_orderkey")
        return erase_rows(spark, sink, man, "o_orderkey", doomed)


Q271_SQL = """
WITH w AS (SELECT max(o_orderkey) // 12 + 1 AS w FROM orders),
b AS (
  SELECT o_orderkey, CAST(o_orderkey // w AS INT) AS batch
  FROM orders, w
), d AS (
  SELECT o_orderkey FROM b
  WHERE batch = 5 OR (o_orderkey % 7 = 0 AND batch IN (2, 7))
), env AS (
  SELECT batch, count(*) AS n_rows,
         min(o_orderkey) AS lo, max(o_orderkey) AS hi
  FROM b GROUP BY batch
), er AS (
  SELECT b.batch, count(*) AS n
  FROM b JOIN d USING (o_orderkey) GROUP BY b.batch
)
SELECT CAST(env.batch AS BIGINT) AS batch,
       EXISTS (SELECT 1 FROM d
               WHERE d.o_orderkey BETWEEN env.lo AND env.hi) AS rewritten,
       CAST(env.n_rows AS BIGINT) AS rows_before,
       CAST(coalesce(er.n, 0) AS BIGINT) AS rows_erased,
       CAST(env.n_rows - coalesce(er.n, 0) AS BIGINT) AS rows_after
FROM env LEFT JOIN er ON env.batch = er.batch
"""


# ------------------------------------------- bloom-confined erasure
#
# q272: the q270 bloom tier COMPOSED with the q271 batched erasure —
# a compliance delete on the layout that defeats envelopes. The same
# portable-md5 8-batch random sink as q270: plain erasure would
# rewrite all 8 batches (every envelope admits every key); passing the
# land-time bloom store confines the rewrite to the true-hit batches.
# The exact-integer columns (true-hit batch count, total erased, total
# surviving) are oracle-recomputed from orders arithmetic — if the
# bloom pruning ever skipped a batch that really contains a doomed key
# (a false negative, impossible by construction), rows_erased_total
# would come up short and hash-mismatch. bloom_confined follows the
# guarantee-boolean pattern (bloom candidacy is xxhash64-internal; a
# false POSITIVE only adds a zero-erased rewrite and cannot push the
# rewritten count to all 8).

def q272_bloomed_erasure(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import hash_bucket
    from ..sources.bloom import collect_batch_blooms
    from ..sources.retention import erase_rows

    nb, n_bits = 8, 1 << 18
    with _scratch("q272_blerase_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        df = orders.select(
            "o_orderkey", hash_bucket("o_orderkey", nb).alias("batch")
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey"])
        blooms = collect_batch_blooms(
            spark, sink, "o_orderkey", n_bits=n_bits
        )
        doomed = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .orderBy("o_orderkey")
            .limit(3)
        )
        n_batches, n_rewritten, n_erased, n_after = _erase_totals(
            erase_rows(
                spark,
                sink,
                man,
                "o_orderkey",
                doomed,
                blooms={"o_orderkey": blooms},
            )
        )
        n_hit = (
            df.join(doomed, "o_orderkey")
            .select("batch")
            .distinct()
            .count()
        )
        return spark.createDataFrame(
            [
                (
                    n_batches,
                    n_hit,
                    n_erased,
                    n_after,
                    n_rewritten < n_batches,
                )
            ],
            "n_batches BIGINT, n_true_hit_batches BIGINT, "
            "rows_erased_total BIGINT, rows_after_total BIGINT, "
            "bloom_confined BOOLEAN",
        )


Q272_SQL = """
WITH b AS (
  SELECT o_orderkey,
         CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS INT) AS batch
  FROM orders
), k AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey LIMIT 3
)
SELECT (SELECT CAST(count(DISTINCT batch) AS BIGINT) FROM b) AS n_batches,
       (SELECT CAST(count(DISTINCT b.batch) AS BIGINT)
        FROM b JOIN k USING (o_orderkey)) AS n_true_hit_batches,
       (SELECT CAST(count(*) AS BIGINT) FROM k) AS rows_erased_total,
       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         - (SELECT CAST(count(*) AS BIGINT) FROM k) AS rows_after_total,
       true AS bloom_confined
"""


# ------------------------------------------- file-grain erasure gate
#
# q273: the r10 FILE-grain erasure refinement under the driver's gate.
# One batch partition holding FOUR deterministic quartile files of the
# orders keys (appended one at a time — each file's envelope is
# exactly its quartile); the opt-out list lives entirely inside
# quartile 2, so exactly ONE file is rewritten and the other three
# survive physically untouched (asserted via inputFiles identity and
# returned as exact file counts the oracle pins). Rows columns are
# oracle-recomputed from orders arithmetic; a regression to
# batch-grain rewriting would flip n_files_untouched from 3 to 0 and
# hash-mismatch.

def q273_filegrain_erasure(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.manifest import write_batch_stats
    from ..sources.retention import erase_rows

    with _scratch("q273_fgerase_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        w = orders.agg(
            (F.expr("max(o_orderkey) div 4") + 1).alias("w")
        ).collect()[0]["w"]
        for q in range(4):
            (
                orders.filter(
                    F.expr(f"o_orderkey div {w}") == q
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(f"{sink}/batch=0")
            )
        write_batch_stats(spark, sink, man, 0, ["o_orderkey"])
        files_before = set(
            spark.read.parquet(f"{sink}/batch=0").inputFiles()
        )
        doomed = orders.filter(
            (F.expr(f"o_orderkey div {w}") == 1)
            & (F.col("o_orderkey") % 11 == 0)
        )
        rep = erase_rows(spark, sink, man, "o_orderkey", doomed).collect()
        files_after = set(
            spark.read.parquet(f"{sink}/batch=0").inputFiles()
        )
        assert len(rep) == 1
        return spark.createDataFrame(
            [
                (
                    len(files_before),
                    len(files_after),
                    len(files_before & files_after),
                    int(rep[0]["rows_erased"]),
                    int(rep[0]["rows_after"]),
                )
            ],
            "n_files_before BIGINT, n_files_after BIGINT, "
            "n_files_untouched BIGINT, rows_erased BIGINT, "
            "rows_after BIGINT",
        )


Q273_SQL = """
WITH w AS (SELECT max(o_orderkey) // 4 + 1 AS w FROM orders),
d AS (
  SELECT count(*) AS n FROM orders, w
  WHERE o_orderkey // w = 1 AND o_orderkey % 11 = 0
)
SELECT CAST(4 AS BIGINT) AS n_files_before,
       CAST(4 AS BIGINT) AS n_files_after,
       CAST(3 AS BIGINT) AS n_files_untouched,
       CAST(d.n AS BIGINT) AS rows_erased,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) - d.n AS rows_after
FROM d
"""


# ----------------------------------------- manifest-aware compaction
#
# q274: sources/formats.compact_batch (r10) under the driver's gate —
# the maintenance op whose CONTRAST with erasure is the point: six
# small files compact to one, content byte-identical, the manifest
# refreshed (post-compaction pruned-read row count is oracle-exact),
# and a PRE-compaction snapshot pin stays REPRODUCIBLE (snapshots pin
# content stats, not file lists) where q259 proves erasure audibly
# breaks one. File counts and the reproducibility boolean are pinned
# by the oracle; row columns recomputed from orders arithmetic.

def q274_compact_batch(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.formats import compact_batch
    from ..sources.manifest import read_pruned, write_batch_stats
    from ..sources.snapshots import commit_snapshot, snapshot_drift_audit

    with _scratch("q274_compact_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        for m in range(6):  # six single-file appends, one per residue
            (
                orders.filter(F.col("o_orderkey") % 6 == m)
                .coalesce(1)
                .write.mode("append")
                .parquet(f"{sink}/batch=0")
            )
        write_batch_stats(spark, sink, man, 0, ["o_orderkey"])
        commit_snapshot(spark, man, log)
        files_before, files_after = compact_batch(spark, sink, man, 0)
        lo = orders.agg(F.min("o_orderkey").alias("lo")).collect()[0]["lo"]
        pruned_n = read_pruned(
            spark, spark.read.parquet(man), "o_orderkey", lo, lo + 99
        ).count()
        drift = snapshot_drift_audit(spark, sink, log, 1).collect()[0]
        n_rows = int(
            spark.read.parquet(man).agg(F.sum("n_rows")).collect()[0][0]
        )
        return spark.createDataFrame(
            [
                (
                    files_before,
                    files_after,
                    n_rows,
                    pruned_n,
                    bool(drift["reproducible"]),
                )
            ],
            "files_before BIGINT, files_after BIGINT, n_rows BIGINT, "
            "pruned_read_rows BIGINT, pin_reproducible BOOLEAN",
        )


Q274_SQL = """
WITH lo AS (SELECT min(o_orderkey) AS lo FROM orders)
SELECT CAST(6 AS BIGINT) AS files_before,
       CAST(1 AS BIGINT) AS files_after,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM orders, lo
        WHERE o_orderkey BETWEEN lo AND lo + 99) AS pruned_read_rows,
       true AS pin_reproducible
"""


# ------------------------------------- streamed bloom chain, end-to-end
#
# q275: the full production chain under one gate query — the sink is
# landed BY THE STREAMING MACHINERY (start_append_with_manifest with
# bloom_cols, availableNow over three interleaved residue slices), the
# bloom store is read back with load_bloom_store, erasure is
# bloom-confined through it, and a point read goes through
# read_bloom_pruned. Residue slices make every batch's envelope span
# the whole key space (the layout where only the bloom can confine);
# all doomed keys live in ONE residue slice, so `confined` (fewer
# batches rewritten than exist) fails only if BOTH other slices false-
# positive simultaneously. Sizing matters and was MEASURED: at 2^20
# bits the sf0.1 slice (~50k distinct keys) false-positived for ~0.3%
# of the 167 doomed keys per slice — enough that both slices lit up.
# At 2^24 bits the per-key rate is ~7e-7, so the failure odds are
# ~1e-8 across all SFs (deterministic for fixed data+seed — verified
# at all three). Every count column is
# slice-permutation-invariant (file listing order may assign batch ids
# differently across runs) and oracle-recomputed from orders
# arithmetic; the booleans follow the guarantee pattern.

def q275_streamed_bloom_chain(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bloom import load_bloom_store, read_bloom_pruned
    from ..sources.retention import erase_rows
    from ..streaming.incremental import start_append_with_manifest

    n_bits = 1 << 24
    with _scratch("q275_chain_") as base:
        drop, sink, man, blm, ck = (
            f"{base}/{d}" for d in ("drop", "sink", "man", "bloom", "ck")
        )
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        for m in range(3):  # one file per residue slice
            (
                orders.filter(F.col("o_orderkey") % 3 == m)
                .coalesce(1)
                .write.parquet(f"{drop}/s{m}")
            )
        stream = (
            spark.readStream.schema("o_orderkey BIGINT")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(drop)
        )
        q = start_append_with_manifest(
            stream,
            sink,
            man,
            ck,
            stat_cols=["o_orderkey"],
            bloom_cols=["o_orderkey"],
            bloom_path=blm,
            bloom_n_bits=n_bits,
        )
        q.awaitTermination(300)
        store = load_bloom_store(spark, blm, "o_orderkey")
        n_store = store.count()
        # doomed keys: all in the residue-0 slice
        doomed = orders.filter(
            (F.col("o_orderkey") % 3 == 0)
            & (F.col("o_orderkey") % 301 == 0)
        )
        n_batches, n_rewritten, n_erased, n_after = _erase_totals(
            erase_rows(
                spark,
                sink,
                man,
                "o_orderkey",
                doomed,
                blooms={"o_orderkey": store},
            )
        )
        # point read through the SAME store, for two surviving keys
        probe = [
            int(r["o_orderkey"])
            for r in orders.filter(
                (F.col("o_orderkey") % 3 == 1)
                & (F.col("o_orderkey") % 301 == 0)
            )
            .orderBy("o_orderkey")
            .limit(2)
            .collect()
        ]
        n_point = read_bloom_pruned(
            spark, sink, store, "o_orderkey", probe
        ).count()
        return spark.createDataFrame(
            [
                (
                    n_batches,
                    n_store,
                    n_erased,
                    n_after,
                    n_point,
                    n_rewritten < n_batches,
                )
            ],
            "n_batches BIGINT, n_store_rows BIGINT, rows_erased BIGINT, "
            "rows_after BIGINT, point_read_rows BIGINT, "
            "confined BOOLEAN",
        )


Q275_SQL = """
WITH d AS (
  SELECT count(*) AS n FROM orders
  WHERE o_orderkey % 3 = 0 AND o_orderkey % 301 = 0
), p AS (
  SELECT count(*) AS n FROM (
    SELECT o_orderkey FROM orders
    WHERE o_orderkey % 3 = 1 AND o_orderkey % 301 = 0
    ORDER BY o_orderkey LIMIT 2
  )
)
SELECT CAST(3 AS BIGINT) AS n_batches,
       CAST(3 AS BIGINT) AS n_store_rows,
       (SELECT CAST(n AS BIGINT) FROM d) AS rows_erased,
       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         - (SELECT CAST(n AS BIGINT) FROM d) AS rows_after,
       (SELECT CAST(n AS BIGINT) FROM p) AS point_read_rows,
       true AS confined
"""


# ------------------------------------------- bloom-store consistency
#
# q276: the r11 bloom_store_audit under the driver's gate — the
# currency contract that q275's chain satisfies BY CONSTRUCTION,
# here violated deliberately and detected. Three residue batches land
# and the store is collected (NDV-autosized, so `saturated` is
# deterministically false at every SF); then batch 3 lands OUT OF
# BAND (the store never sees it — n_missing_batches=1: the damage
# class a non-streaming writer leaves) and batch 2 is REPLAYED with
# half its keys (recorded n_keys no longer matches —
# n_count_mismatches=1). The audit reports both, `current` goes
# false; a store rebuild flips it back and the rebuilt store's total
# recorded key count is oracle-exact from orders arithmetic.

def q276_bloom_store_audit(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bloom import bloom_store_audit, collect_batch_blooms
    from ..sources.manifest import replace_batches

    with _scratch("q276_blaudit_") as base:
        sink, blm = f"{base}/sink", f"{base}/blm"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        df = orders.select(
            "o_orderkey", (F.col("o_orderkey") % 4).alias("batch")
        )
        df.filter(F.col("batch") <= 2).write.partitionBy("batch").parquet(
            sink
        )
        collect_batch_blooms(spark, sink, "o_orderkey").write.partitionBy(
            "batch"
        ).parquet(blm)
        # out-of-band append: a batch the store never saw
        df.filter(F.col("batch") == 3).write.mode("append").partitionBy(
            "batch"
        ).parquet(sink)
        # replayed batch: same id, half the keys
        replace_batches(
            df.filter((F.col("batch") == 2) & (F.col("o_orderkey") % 8 == 2)),
            sink,
        )
        bad = bloom_store_audit(spark, sink, blm).collect()[0]
        # the fix the audit directs: the TARGETED repair (r12,
        # sources/bloom.py:repair_bloom_store) — the missing batch is
        # collected and the replayed batch re-collected under the
        # store's recorded geometry, batches 0/1's rows untouched —
        # then re-audit; a full rebuild would land the same totals,
        # so the oracle arithmetic is unchanged
        from ..sources.bloom import repair_bloom_store

        repair_bloom_store(spark, sink, blm)
        good = bloom_store_audit(spark, sink, blm).collect()[0]
        store = spark.read.parquet(blm)
        n_keys_after = int(
            store.agg(F.sum("n_keys")).collect()[0][0]
        )
        return spark.createDataFrame(
            [
                (
                    bad["key_col"],
                    int(bad["n_sink_batches"]),
                    int(bad["n_store_batches"]),
                    int(bad["n_missing_batches"]),
                    int(bad["n_orphan_batches"]),
                    int(bad["n_count_mismatches"]),
                    bool(bad["type_ok"]),
                    bool(bad["geometry_ok"]),
                    bool(bad["positions_ok"]),
                    bool(bad["saturated"]),
                    bool(bad["current"]),
                    bool(good["current"]),
                    n_keys_after,
                )
            ],
            "key_col STRING, n_sink_batches BIGINT, n_store_batches BIGINT, "
            "n_missing_batches BIGINT, n_orphan_batches BIGINT, "
            "n_count_mismatches BIGINT, type_ok BOOLEAN, "
            "geometry_ok BOOLEAN, positions_ok BOOLEAN, "
            "saturated BOOLEAN, current BOOLEAN, "
            "current_after_rebuild BOOLEAN, n_keys_after_rebuild BIGINT",
        )


Q276_SQL = """
WITH c AS (
  SELECT count(*) FILTER (WHERE o_orderkey % 4 <= 1) AS n01,
         count(*) FILTER (WHERE o_orderkey % 8 = 2) AS n2keep,
         count(*) FILTER (WHERE o_orderkey % 4 = 3) AS n3
  FROM orders
)
SELECT 'o_orderkey' AS key_col,
       CAST(4 AS BIGINT) AS n_sink_batches,
       CAST(3 AS BIGINT) AS n_store_batches,
       CAST(1 AS BIGINT) AS n_missing_batches,
       CAST(0 AS BIGINT) AS n_orphan_batches,
       CAST(1 AS BIGINT) AS n_count_mismatches,
       true AS type_ok, true AS geometry_ok, true AS positions_ok,
       false AS saturated, false AS current,
       true AS current_after_rebuild,
       CAST(n01 + n2keep + n3 AS BIGINT) AS n_keys_after_rebuild
FROM c
"""


# --------------------------------------------- erasure crash repair
#
# q277: the r11 repair face end to end under the gate. A 4-range-batch
# sink is built, then crash window (b) is constructed EXACTLY as a
# real mid-swap crash leaves it (the journaled plan, the completed
# staging tree with batch 1's survivors, batch 1's candidate files
# retired to the hidden trash, replacements NOT landed): the doomed
# rows (batch-1 keys ≡ 0 mod 13) are at that instant physically
# missing along with their surviving file-mates, and the audit says so
# (pre_consistent=false). repair_erasure rolls the swap forward from
# the commit marker, reconciles the manifest, and RESUMES the delete
# from the journaled keys (here a no-op: the roll-forward already
# erased everything — n_rows_erased_on_resume pinned at 0); afterwards
# the sink holds exactly orders-minus-doomed rows, zero doomed keys
# remain, and the audit is green — all counts oracle-recomputed from
# the range arithmetic.

def q277_erasure_crash_repair(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.retention import (
        _COMMIT,
        _STAGING,
        _TRASH,
        _fs,
        _write_erase_journal,
        _write_text,
        repair_erasure,
    )
    from ..streaming.audit import manifest_consistency_audit

    with _scratch("q277_crash_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        # ONE scan yields the batch width AND the pre-count (was two
        # driver-sequenced jobs over the same column — r14 fold)
        head = orders.agg(
            (F.expr("max(o_orderkey) div 4") + 1).alias("w"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        w, n_before = head["w"], int(head["n"])
        df = orders.select(
            "o_orderkey",
            F.expr(f"o_orderkey div {w}").cast("int").alias("batch"),
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey"])
        doomed = df.filter(
            (F.col("batch") == 1) & (F.col("o_orderkey") % 13 == 0)
        ).select("o_orderkey")
        n_doomed = doomed.count()
        # --- construct crash window (b), exactly as erase_rows leaves
        # it: resumability journal (keys + intent), staged survivors,
        # the post-staging commit marker, candidates retired, nothing
        # landed
        _write_erase_journal(spark, sink, doomed, ["o_orderkey"], None)
        cand = [
            r["file"]
            for r in spark.read.parquet(man)
            .filter(F.col("batch") == 1)
            .collect()
        ]
        csrc = spark.read.option("basePath", sink).parquet(*cand)
        kept = csrc.join(F.broadcast(doomed), "o_orderkey", "left_anti")
        kept.write.partitionBy("batch").parquet(f"{sink}/{_STAGING}")
        _write_text(
            spark,
            f"{sink}/{_COMMIT}",
            json.dumps(
                {"batches": {"1": {"files": cand, "n_untouched": 0}}}
            ),
        )
        fs, hpath = _fs(spark, sink)
        fs.mkdirs(hpath(f"{sink}/{_TRASH}/batch=1"))
        for u in cand:
            name = u.rsplit("/", 1)[1]
            fs.rename(hpath(u), hpath(f"{sink}/{_TRASH}/batch=1/{name}"))
        pre_ok = bool(
            manifest_consistency_audit(spark, sink, man).collect()[0][
                "consistent"
            ]
        )
        rep = repair_erasure(spark, sink, man).collect()[0]
        after = spark.read.option("basePath", sink).parquet(sink)
        # ONE action yields both post-repair counts (was a count plus a
        # semi-join count — r14 fold; doomed keys are distinct order
        # keys, so the marker left join cannot multiply rows)
        dm = doomed.distinct().withColumn("__d", F.lit(1))
        tail = after.join(dm, "o_orderkey", "left").agg(
            F.count(F.lit(1)).alias("na"),
            F.count("__d").alias("nr"),
        ).collect()[0]
        n_after, n_remaining = int(tail["na"]), int(tail["nr"])
        return spark.createDataFrame(
            [
                (
                    n_before,
                    n_doomed,
                    pre_ok,
                    bool(rep["found_residue"]),
                    bool(rep["rolled_forward"]),
                    n_after,
                    n_remaining,
                    bool(rep["erasure_resumed"]),
                    int(rep["n_rows_erased_on_resume"]),
                    bool(rep["consistent_after"]),
                )
            ],
            "n_rows_before BIGINT, n_doomed BIGINT, "
            "pre_consistent BOOLEAN, found_residue BOOLEAN, "
            "rolled_forward BOOLEAN, n_rows_after BIGINT, "
            "n_doomed_remaining BIGINT, erasure_resumed BOOLEAN, "
            "n_rows_erased_on_resume BIGINT, consistent_after BOOLEAN",
        )


Q277_SQL = """
WITH w AS (SELECT max(o_orderkey) // 4 + 1 AS w FROM orders),
d AS (
  SELECT count(*) AS n FROM orders, w
  WHERE o_orderkey // w = 1 AND o_orderkey % 13 = 0
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows_before,
       CAST(d.n AS BIGINT) AS n_doomed,
       false AS pre_consistent,
       true AS found_residue,
       true AS rolled_forward,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) - d.n AS n_rows_after,
       CAST(0 AS BIGINT) AS n_doomed_remaining,
       true AS erasure_resumed,
       CAST(0 AS BIGINT) AS n_rows_erased_on_resume,
       true AS consistent_after
FROM d
"""


# ------------------------------------------- bloom sizing honesty
#
# q278: the r11 NDV-derived autosizing default under the gate, against
# the deliberately-undersized store that motivated it (VERDICT r10
# "what's wrong" item 3: the old fixed default was honest but useless
# on large batches). Same hostile md5-random 8-batch layout as q270.
# The autosized store must be a power of two, unsaturated (fill ≤ 1/8
# by the 16·ndv·k formula — deterministic at every SF), keep the
# no-false-negative guarantee, and actually prune; the 2^10 store
# must report saturation (fill > 1/8 at every SF: ≥ ~180 distinct
# keys/batch × 3 positions against 1024 bits). True-hit counts are
# oracle-recomputed from the portable-md5 bucket arithmetic.

def q278_bloom_autosize(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.sampling import hash_bucket
    from ..sources.bloom import bloom_candidates, collect_batch_blooms

    nb = 8
    with _scratch("q278_autosize_") as base:
        sink = f"{base}/sink"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        df = orders.select(
            "o_orderkey", hash_bucket("o_orderkey", nb).alias("batch")
        )
        df.write.partitionBy("batch").parquet(sink)
        keys = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .orderBy("o_orderkey")
            .limit(3)
            .persist()
        )
        src = spark.read.option("basePath", sink).parquet(sink)
        true_pairs = src.join(keys, "o_orderkey").select(
            "batch", "o_orderkey"
        ).persist()
        auto = collect_batch_blooms(spark, sink, "o_orderkey").persist()
        cand = bloom_candidates(auto, keys, "o_orderkey").persist()
        tiny = collect_batch_blooms(
            spark, sink, "o_orderkey", n_bits=1 << 10
        )
        over = F.size("bloom_pos").cast("long") * 8 - F.col("n_bits")
        # power-of-two geometry: one distinct n_bits, and its min is 2^k
        (
            n_keys, n_hit, n_geometries, min_bits, auto_over, n_missed,
            n_auto_batches, tiny_sat,
        ) = _fold_scalars(
            keys.groupBy().count(),
            true_pairs.agg(F.count_distinct("batch")),
            auto.agg(F.count_distinct("n_bits")),
            auto.agg(F.min("n_bits")),
            auto.agg(F.max(over)),
            true_pairs.join(
                cand, ["batch", "o_orderkey"], "left_anti"
            ).groupBy().count(),
            cand.agg(F.count_distinct("batch")),
            tiny.agg(F.max(over)),
        )
        pow2_ok = n_geometries == 1 and (min_bits & (min_bits - 1)) == 0
        auto_not_saturated = auto_over < 0
        for p in (cand, auto, true_pairs, keys):
            p.unpersist()
        return spark.createDataFrame(
            [
                (
                    nb,
                    n_keys,
                    n_hit,
                    pow2_ok,
                    auto_not_saturated,
                    n_missed == 0,
                    n_auto_batches < nb,
                    int(tiny_sat) >= 0,
                )
            ],
            "n_batches BIGINT, n_keys BIGINT, n_true_hit_batches BIGINT, "
            "autosized_pow2 BOOLEAN, auto_not_saturated BOOLEAN, "
            "no_false_negatives BOOLEAN, auto_pruned BOOLEAN, "
            "tiny_saturated BOOLEAN",
        )


Q278_SQL = """
WITH b AS (
  SELECT o_orderkey,
         CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS INT) AS batch
  FROM orders
), k AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey LIMIT 3
), hits AS (
  SELECT count(DISTINCT b.batch) AS n FROM b JOIN k USING (o_orderkey)
)
SELECT CAST(8 AS BIGINT) AS n_batches,
       (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_keys,
       CAST(hits.n AS BIGINT) AS n_true_hit_batches,
       true AS autosized_pow2,
       true AS auto_not_saturated,
       true AS no_false_negatives,
       true AS auto_pruned,
       true AS tiny_saturated
FROM hits
"""


# ----------------------------- composite multi-column bloomed erasure
#
# q279: the r11 one-scan multi-column collection feeding a
# COMPOSITE-key bloom-confined erasure — q272's shape upgraded to two
# key columns: the store holds both o_orderkey and o_custkey
# summaries from ONE scan, erase_rows intersects the two blooms
# tuple-precisely, and the probe geometry comes from the store's
# recorded metadata (no explicit n_bits anywhere — the r11
# auto-resolution path under the gate). On the md5-random layout only
# the bloom can confine; a false negative on EITHER column would
# leave rows_erased_total short and hash-mismatch. The store is
# MAINTAINED through the delete (bloom_store_path=): afterwards
# bloom_store_audit must be green for both columns
# (store_current_after), closing the maintenance loop under the gate.

def q279_multicol_bloomed_erasure(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..functions.sampling import hash_bucket
    from ..sources.bloom import (
        bloom_store_audit,
        collect_batch_blooms,
        load_bloom_store,
    )
    from ..sources.retention import erase_rows

    nb = 8
    with _scratch("q279_mcerase_") as base:
        sink, man, blm = f"{base}/sink", f"{base}/man", f"{base}/blm"
        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey"
        )
        df = orders.select(
            "o_orderkey",
            "o_custkey",
            hash_bucket("o_orderkey", nb).alias("batch"),
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey", "o_custkey"])
        # ONE scan collects BOTH columns' summaries (2^18 spans every
        # SF's per-batch NDV comfortably: ≤ ~19k keys/batch at sf0.1)
        collect_batch_blooms(
            spark, sink, ["o_orderkey", "o_custkey"], n_bits=1 << 18
        ).write.partitionBy("batch").parquet(blm)
        stores = {
            c: load_bloom_store(spark, blm, c)
            for c in ("o_orderkey", "o_custkey")
        }
        doomed = (
            orders.filter(F.col("o_orderkey") % 97 == 0)
            .orderBy("o_orderkey")
            .limit(3)
            .select("o_orderkey", "o_custkey")
        )
        n_batches, n_rewritten, n_erased, n_after = _erase_totals(
            erase_rows(
                spark,
                sink,
                man,
                ["o_orderkey", "o_custkey"],
                doomed,
                blooms=stores,
                bloom_store_path=blm,
            )
        )
        store_ok = all(
            r["current"]
            for r in bloom_store_audit(spark, sink, blm).collect()
        )
        n_hit = (
            df.join(doomed, ["o_orderkey", "o_custkey"])
            .select("batch")
            .distinct()
            .count()
        )
        return spark.createDataFrame(
            [
                (
                    n_batches,
                    n_hit,
                    n_erased,
                    n_after,
                    n_rewritten < n_batches,
                    store_ok,
                )
            ],
            "n_batches BIGINT, n_true_hit_batches BIGINT, "
            "rows_erased_total BIGINT, rows_after_total BIGINT, "
            "bloom_confined BOOLEAN, store_current_after BOOLEAN",
        )


Q279_SQL = """
WITH b AS (
  SELECT o_orderkey,
         CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS INT) AS batch
  FROM orders
), k AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey LIMIT 3
)
SELECT (SELECT CAST(count(DISTINCT batch) AS BIGINT) FROM b) AS n_batches,
       (SELECT CAST(count(DISTINCT b.batch) AS BIGINT)
        FROM b JOIN k USING (o_orderkey)) AS n_true_hit_batches,
       (SELECT CAST(count(*) AS BIGINT) FROM k) AS rows_erased_total,
       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         - (SELECT CAST(count(*) AS BIGINT) FROM k) AS rows_after_total,
       true AS bloom_confined,
       true AS store_current_after
"""


# ----------------------------- compaction crash, refusal, repair, pin
#
# q280: the compaction side of the r11 crash story in one chain — the
# q274 six-file batch is compacted BY HAND up to the mid-swap instant
# (durable staging, partition retired to the hidden trash: exactly the
# state a crash between compact_batch's two renames leaves), then:
# vacuum_maintenance REFUSES (the trash holds the partition's only
# copy — vacuum_refused is the guarantee boolean), repair_compaction
# COMPLETES the swap to the compacted copy and reconciles the
# manifest, the pruned read is oracle-exact again, and — the q274
# contrast carried through a crash — the PRE-compaction snapshot pin
# is still reproducible (content byte-identical). File counts, row
# counts and every boolean are oracle-pinned.

def q280_compaction_crash_chain(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.formats import repair_compaction
    from ..sources.manifest import read_pruned, write_batch_stats
    from ..sources.retention import (
        _COMPACT_STAGING,
        _COMPACT_TRASH,
        _fs,
        vacuum_maintenance,
    )
    from ..sources.snapshots import commit_snapshot, snapshot_drift_audit

    with _scratch("q280_cchain_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        for m in range(6):  # six single-file appends, one per residue
            (
                orders.filter(F.col("o_orderkey") % 6 == m)
                .coalesce(1)
                .write.mode("append")
                .parquet(f"{sink}/batch=0")
            )
        write_batch_stats(spark, sink, man, 0, ["o_orderkey"])
        commit_snapshot(spark, man, log)
        fs, hpath = _fs(spark, sink)
        files_before = sum(
            1
            for st in fs.listStatus(hpath(f"{sink}/batch=0"))
            if st.getPath().getName().startswith("part-")
        )
        # mid-swap crash state: durable compacted staging, live
        # partition retired to the hidden trash, nothing landed
        spark.read.parquet(f"{sink}/batch=0").coalesce(1).write.parquet(
            f"{sink}/{_COMPACT_STAGING}0"
        )
        fs.rename(
            hpath(f"{sink}/batch=0"), hpath(f"{sink}/{_COMPACT_TRASH}0")
        )
        try:
            vacuum_maintenance(spark, sink)
            refused = False
        except ValueError:
            refused = True
        rep = repair_compaction(spark, sink, man, 0).collect()[0]
        files_after = sum(
            1
            for st in fs.listStatus(hpath(f"{sink}/batch=0"))
            if st.getPath().getName().startswith("part-")
        )
        n_rows, lo = _fold_scalars(
            spark.read.parquet(f"{sink}/batch=0").groupBy().count(),
            orders.agg(F.min("o_orderkey")),
        )
        pruned_n = read_pruned(
            spark, spark.read.parquet(man), "o_orderkey", lo, lo + 99
        ).count()
        drift = snapshot_drift_audit(spark, sink, log, 1).collect()[0]
        return spark.createDataFrame(
            [
                (
                    files_before,
                    files_after,
                    n_rows,
                    pruned_n,
                    refused,
                    rep["action"] == "completed",
                    bool(rep["consistent_after"]),
                    bool(drift["reproducible"]),
                )
            ],
            "files_before BIGINT, files_after BIGINT, n_rows BIGINT, "
            "pruned_read_rows BIGINT, vacuum_refused BOOLEAN, "
            "swap_completed BOOLEAN, consistent_after BOOLEAN, "
            "pin_reproducible BOOLEAN",
        )


Q280_SQL = """
WITH lo AS (SELECT min(o_orderkey) AS lo FROM orders)
SELECT CAST(6 AS BIGINT) AS files_before,
       CAST(1 AS BIGINT) AS files_after,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM orders, lo
        WHERE o_orderkey BETWEEN lo AND lo + 99) AS pruned_read_rows,
       true AS vacuum_refused,
       true AS swap_completed,
       true AS consistent_after,
       true AS pin_reproducible
"""


# ------------------------------------------ manifest detect-and-repair
#
# q281: repair_manifest standalone under the gate — all three audit
# damage classes planted at once on a 3-batch orders sink (a STALE row:
# batch 0's file deleted behind the manifest's back; an UNENVELOPED
# file: an out-of-band append into batch 1; a COUNT MISMATCH: batch 2's
# file replaced by its even-key half with the old manifest row kept),
# detected (pre_consistent=false), repaired in one call, and proven:
# the post-repair audit is green and a pruned read over the
# out-of-band keys is oracle-exact. Counts are recomputed by DuckDB
# from the residue arithmetic; booleans follow the guarantee pattern.

def q281_manifest_repair(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.manifest import (
        read_pruned,
        replace_batches,
        write_batch_stats,
    )
    from ..sources.retention import _fs, repair_manifest
    from ..streaming.audit import manifest_consistency_audit

    with _scratch("q281_manrep_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        hi = orders.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
        for b in range(3):  # one file per batch, keys by residue mod 3
            (
                orders.filter(F.col("o_orderkey") % 3 == b)
                .coalesce(1)
                .write.parquet(f"{sink}/batch={b}")
            )
            write_batch_stats(spark, sink, man, b, ["o_orderkey"])
        fs, hpath = _fs(spark, sink)
        # stale: batch 0's file vanishes behind the manifest's back
        f0 = spark.read.parquet(f"{sink}/batch=0").inputFiles()[0]
        fs.delete(hpath(f0), False)
        # unenveloped: out-of-band keys [hi+1, hi+50] land in batch 1
        spark.range(hi + 1, hi + 51).select(
            F.col("id").alias("o_orderkey")
        ).coalesce(1).write.mode("append").parquet(f"{sink}/batch=1")
        # count mismatch: batch 2's file replaced by its even-key half,
        # manifest row left pointing at the old count
        keep2 = (
            spark.read.parquet(f"{sink}/batch=2")
            .filter(F.col("o_orderkey") % 2 == 0)
            .localCheckpoint(eager=True)  # sever lineage before delete
        )
        f2 = spark.read.parquet(f"{sink}/batch=2").inputFiles()[0]
        fs.delete(hpath(f2), False)
        keep2.coalesce(1).write.mode("append").parquet(f"{sink}/batch=2")
        old2 = spark.read.parquet(man).filter(F.col("batch") == 2)
        new2 = spark.read.parquet(f"{sink}/batch=2").inputFiles()[0]
        replace_batches(
            old2.localCheckpoint(eager=True).withColumn(
                "file", F.lit("file:" + new2.removeprefix("file:"))
            ),
            man,
        )
        pre_ok = bool(
            manifest_consistency_audit(spark, sink, man).collect()[0][
                "consistent"
            ]
        )
        rep = repair_manifest(spark, sink, man).collect()[0]
        pruned, n_rows = _fold_scalars(
            read_pruned(
                spark, spark.read.parquet(man), "o_orderkey", hi + 1, hi + 25
            ).groupBy().count(),
            spark.read.parquet(man).agg(F.sum("n_rows")),
        )
        return spark.createDataFrame(
            [
                (
                    pre_ok,
                    int(rep["n_stale_rows_dropped"]),
                    int(rep["n_files_reenveloped"]),
                    int(rep["n_count_refreshed"]),
                    bool(rep["consistent_after"]),
                    pruned,
                    n_rows,
                )
            ],
            "pre_consistent BOOLEAN, n_stale_rows_dropped BIGINT, "
            "n_files_reenveloped BIGINT, n_count_refreshed BIGINT, "
            "consistent_after BOOLEAN, pruned_read_rows BIGINT, "
            "manifest_rows_total BIGINT",
        )


Q281_SQL = """
WITH c AS (
  SELECT count(*) FILTER (WHERE o_orderkey % 3 = 1) AS n1,
         count(*) FILTER (WHERE o_orderkey % 3 = 2
                          AND o_orderkey % 2 = 0) AS n2even
  FROM orders
)
SELECT false AS pre_consistent,
       CAST(1 AS BIGINT) AS n_stale_rows_dropped,
       CAST(1 AS BIGINT) AS n_files_reenveloped,
       CAST(1 AS BIGINT) AS n_count_refreshed,
       true AS consistent_after,
       CAST(25 AS BIGINT) AS pruned_read_rows,
       CAST(n1 + 50 + n2even AS BIGINT) AS manifest_rows_total
FROM c
"""


# ------------------------------------------- targeted bloom-store repair
#
# q282: the r12 repair_bloom_store under the gate — all four audit
# damage classes planted AT ONCE on a five-batch residue sink (an
# out-of-band append the store never saw, a replayed batch whose
# recorded n_keys no longer matches, a dropped batch whose summary
# survived as an orphan, and a corrupted out-of-range position — the
# silent false-negative vector), repaired in ONE call. The repair is
# TARGETED: the untouched batch's summary row must survive
# byte-identical (untouched_identical is the guarantee boolean a full
# rebuild would break only by luck — it is pinned by comparing the
# recorded row before and after), per-class counts are exact, and the
# repaired store's total key count is oracle-recomputed from orders
# residue arithmetic.

def q282_bloom_store_repair(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.bloom import (
        bloom_store_audit,
        collect_batch_blooms,
        repair_bloom_store,
    )
    from ..sources.manifest import replace_batches
    from ..sources.retention import _fs

    with _scratch("q282_blrepair_") as base:
        sink, blm = f"{base}/sink", f"{base}/blm"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        df = orders.select(
            "o_orderkey", (F.col("o_orderkey") % 5).alias("batch")
        )
        df.filter(F.col("batch") <= 3).write.partitionBy("batch").parquet(
            sink
        )
        collect_batch_blooms(spark, sink, "o_orderkey").write.partitionBy(
            "batch"
        ).parquet(blm)
        # missing: batch 4 lands out of band, the store never sees it
        df.filter(F.col("batch") == 4).write.mode("append").partitionBy(
            "batch"
        ).parquet(sink)
        # mismatch: batch 3 replayed with half its keys
        replace_batches(
            df.filter((F.col("batch") == 3) & (F.col("o_orderkey") % 10 == 3)),
            sink,
        )
        # orphan: batch 2 dropped behind the store's back
        fs, hpath = _fs(spark, sink)
        fs.delete(hpath(f"{sink}/batch=2"), True)
        # structural: batch 1's recorded positions corrupted with an
        # out-of-range bit — a probe can never match it
        bad = (
            spark.read.parquet(blm)
            .filter(F.col("batch") == 1)
            .withColumn(
                "bloom_pos",
                F.array_union("bloom_pos", F.array(F.lit(1 << 40))),
            )
            .localCheckpoint(eager=True)
        )
        replace_batches(bad, blm)
        before0 = (
            spark.read.parquet(blm).filter(F.col("batch") == 0).collect()
        )
        rep = repair_bloom_store(spark, sink, blm).collect()[0]
        after0 = (
            spark.read.parquet(blm).filter(F.col("batch") == 0).collect()
        )
        ident = lambda rows: sorted(  # noqa: E731
            (r["key_col"], int(r["n_keys"]), tuple(r["bloom_pos"]))
            for r in rows
        )
        untouched_identical = ident(before0) == ident(after0)
        audit = bloom_store_audit(spark, sink, blm).collect()[0]
        store = spark.read.parquet(blm)
        # ONE action yields both post-repair store stats (was an agg
        # plus a distinct count — r14 job-count fold; values identical)
        st = store.agg(
            F.sum("n_keys").alias("nk"),
            F.count_distinct("batch").alias("nb"),
        ).collect()[0]
        n_keys_after, n_store_batches = int(st["nk"]), int(st["nb"])
        return spark.createDataFrame(
            [
                (
                    rep["key_col"],
                    int(rep["n_missing_collected"]),
                    int(rep["n_mismatch_recollected"]),
                    int(rep["n_structural_recollected"]),
                    int(rep["n_orphan_rows_dropped"]),
                    bool(rep["current_after"]),
                    untouched_identical,
                    bool(audit["current"]),
                    n_keys_after,
                    n_store_batches,
                )
            ],
            "key_col STRING, n_missing_collected BIGINT, "
            "n_mismatch_recollected BIGINT, n_structural_recollected "
            "BIGINT, n_orphan_rows_dropped BIGINT, current_after BOOLEAN, "
            "untouched_identical BOOLEAN, audit_current BOOLEAN, "
            "n_keys_after BIGINT, n_store_batches BIGINT",
        )


Q282_SQL = """
WITH c AS (
  SELECT count(*) FILTER (WHERE o_orderkey % 5 = 0) AS n0,
         count(*) FILTER (WHERE o_orderkey % 5 = 1) AS n1,
         count(*) FILTER (WHERE o_orderkey % 10 = 3) AS n3keep,
         count(*) FILTER (WHERE o_orderkey % 5 = 4) AS n4
  FROM orders
)
SELECT 'o_orderkey' AS key_col,
       CAST(1 AS BIGINT) AS n_missing_collected,
       CAST(1 AS BIGINT) AS n_mismatch_recollected,
       CAST(1 AS BIGINT) AS n_structural_recollected,
       CAST(1 AS BIGINT) AS n_orphan_rows_dropped,
       true AS current_after,
       true AS untouched_identical,
       true AS audit_current,
       CAST(n0 + n1 + n3keep + n4 AS BIGINT) AS n_keys_after,
       CAST(4 AS BIGINT) AS n_store_batches
FROM c
"""


# --------------------------------------- no-op resume journal retirement
#
# q283: the r12 refusal-loop fix under the gate. A crashed erasure's
# journal survives with opt-out keys that fall OUTSIDE every surviving
# file envelope — the resume finds zero candidates and (pre-r12)
# cleaned up nothing, leaving every later vacuum_maintenance refusing
# and every repair re-running a no-op forever. repair_erasure now
# retires the journal itself: the chain pins the no-op resume's exact
# zero, the journal's disappearance, the vacuum running WITHOUT
# refusal afterwards (zero residue left to reclaim — both counts
# pinned at 0), a second repair finding nothing, and the sink's rows
# untouched throughout (oracle-recomputed).

def q283_noop_resume_retirement(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.retention import (
        _erase_journal_exists,
        _write_erase_journal,
        repair_erasure,
        vacuum_maintenance,
    )

    with _scratch("q283_noop_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        hi = orders.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
        w = hi // 2 + 1
        df = orders.select(
            "o_orderkey",
            F.expr(f"o_orderkey div {w}").cast("int").alias("batch"),
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey"])
        # the crash residue: a journal whose keys no surviving envelope
        # admits — the resume will be a pure no-op
        _write_erase_journal(
            spark,
            sink,
            spark.createDataFrame(
                [(int(hi) + 1,), (int(hi) + 2,)], "o_orderkey BIGINT"
            ),
            ["o_orderkey"],
            None,
        )
        rep = repair_erasure(spark, sink, man).collect()[0]
        journal_gone = not _erase_journal_exists(spark, sink)
        vac = vacuum_maintenance(spark, sink).collect()[0]
        rep2 = repair_erasure(spark, sink, man).collect()[0]
        n_rows = spark.read.option("basePath", sink).parquet(sink).count()
        return spark.createDataFrame(
            [
                (
                    bool(rep["found_residue"]),
                    bool(rep["rolled_forward"]),
                    bool(rep["erasure_resumed"]),
                    int(rep["n_rows_erased_on_resume"]),
                    bool(rep["consistent_after"]),
                    journal_gone,
                    int(vac["n_paths_removed"]),
                    int(vac["n_files_removed"]),
                    bool(rep2["found_residue"]),
                    n_rows,
                )
            ],
            "found_residue BOOLEAN, rolled_forward BOOLEAN, "
            "erasure_resumed BOOLEAN, n_rows_erased_on_resume BIGINT, "
            "consistent_after BOOLEAN, journal_retired BOOLEAN, "
            "vacuum_paths_removed BIGINT, vacuum_files_removed BIGINT, "
            "second_repair_found_residue BOOLEAN, n_rows_surviving BIGINT",
        )


Q283_SQL = """
SELECT true AS found_residue,
       false AS rolled_forward,
       true AS erasure_resumed,
       CAST(0 AS BIGINT) AS n_rows_erased_on_resume,
       true AS consistent_after,
       true AS journal_retired,
       CAST(0 AS BIGINT) AS vacuum_paths_removed,
       CAST(0 AS BIGINT) AS vacuum_files_removed,
       false AS second_repair_found_residue,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows_surviving
"""


# ------------------------------------ whole-table erasure crash repair
#
# q284: the r12 empty-manifest guard under the gate. A whole-table
# opt-out (every key doomed) empties every batch and drops every
# manifest partition; a crash in the final instant — after the last
# refresh, before the journal retires — leaves only the journal. The
# pre-r12 resume aborted mid-phase reading the schema-less manifest
# directory (AnalysisException), stranding the journal forever; repair
# now treats the state as nothing-left-to-erase: journal retired,
# consistent (an empty manifest is consistent exactly when the sink
# holds no rows), vacuum refusal-free. The initial erasure's exact
# whole-table counts are oracle-recomputed from orders.

def q284_wholetable_crash_repair(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.retention import (
        _erase_journal_exists,
        _write_erase_journal,
        erase_rows,
        repair_erasure,
        vacuum_maintenance,
    )

    with _scratch("q284_wt_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        df = orders.select(
            "o_orderkey", (F.col("o_orderkey") % 3).alias("batch")
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey"])
        doomed = orders.select("o_orderkey")
        # ONE action over the (local) erasure report — was persist +
        # agg + filtered count (r14 job-count fold; values identical)
        rep0 = erase_rows(spark, sink, man, "o_orderkey", doomed).agg(
            F.sum("rows_erased").alias("er"),
            F.sum((F.col("rows_after") == 0).cast("long")).alias("ne"),
        ).collect()[0]
        erased_total = int(rep0["er"])
        n_emptied = int(rep0["ne"])
        # the final-instant crash: everything done, journal not retired
        _write_erase_journal(spark, sink, doomed, ["o_orderkey"], None)
        rep = repair_erasure(spark, sink, man).collect()[0]
        journal_gone = not _erase_journal_exists(spark, sink)
        vacuum_maintenance(spark, sink)  # must not refuse
        n_after = spark.read.option("basePath", sink).parquet(sink).count()
        return spark.createDataFrame(
            [
                (
                    erased_total,
                    n_emptied,
                    bool(rep["found_residue"]),
                    bool(rep["erasure_resumed"]),
                    int(rep["n_rows_erased_on_resume"]),
                    bool(rep["consistent_after"]),
                    journal_gone,
                    n_after,
                )
            ],
            "rows_erased_total BIGINT, n_batches_emptied BIGINT, "
            "found_residue BOOLEAN, erasure_resumed BOOLEAN, "
            "n_rows_erased_on_resume BIGINT, consistent_after BOOLEAN, "
            "journal_retired BOOLEAN, n_rows_after BIGINT",
        )


Q284_SQL = """
SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rows_erased_total,
       CAST(3 AS BIGINT) AS n_batches_emptied,
       true AS found_residue,
       true AS erasure_resumed,
       CAST(0 AS BIGINT) AS n_rows_erased_on_resume,
       true AS consistent_after,
       true AS journal_retired,
       CAST(0 AS BIGINT) AS n_rows_after
"""


# --------------------------------- journaled bloom-store reconciliation
#
# q285: the r12 store-reconciliation path under the gate — the exact
# ADVICE r11 crash window: an erase_rows(bloom_store_path=) call whose
# sink swap and manifest refresh completed but which crashed BEFORE
# the store refresh, journal intact. The store is stale (the rewritten
# batch's recorded n_keys no longer matches) in a way the resume alone
# would never touch (it recomputes candidates from the POST-erasure
# manifest). repair_erasure must reconcile the journaled store via
# repair_bloom_store before resuming; afterwards the store is current
# for the maintained column, the journal is retired, and the erased /
# surviving / per-batch store counts are oracle-recomputed from orders
# residue arithmetic.

def q285_journaled_store_reconciliation(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..sources.bloom import (
        bloom_store_audit,
        collect_batch_blooms,
        load_bloom_store,
    )
    from ..sources.retention import (
        _erase_journal_exists,
        _write_erase_journal,
        erase_rows,
        repair_erasure,
    )

    with _scratch("q285_recon_") as base:
        sink, man, blm = f"{base}/sink", f"{base}/man", f"{base}/blm"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        df = orders.select(
            "o_orderkey", (F.col("o_orderkey") % 3).alias("batch")
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey"])
        collect_batch_blooms(spark, sink, "o_orderkey").write.partitionBy(
            "batch"
        ).parquet(blm)
        # the doomed keys live in residue slice 0 only; the bloom
        # confines the rewrite on this layout where envelopes cannot
        doomed = orders.filter(
            (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 97 == 0)
        ).select("o_orderkey")
        n_doomed = doomed.count()
        store = load_bloom_store(spark, blm, "o_orderkey")
        # the swap + manifest refresh completed WITHOUT the store
        # refresh (the crash hit between them), journal intact:
        erase_rows(
            spark, sink, man, "o_orderkey", doomed,
            blooms={"o_orderkey": store},
        )
        _write_erase_journal(spark, sink, doomed, ["o_orderkey"], blm)
        pre_current = all(
            r["current"]
            for r in bloom_store_audit(spark, sink, blm).collect()
        )
        rep = repair_erasure(spark, sink, man).collect()[0]
        post_current = all(
            r["current"]
            for r in bloom_store_audit(spark, sink, blm).collect()
        )
        journal_gone = not _erase_journal_exists(spark, sink)
        n_after, n_keys_b0 = _fold_scalars(
            spark.read.option("basePath", sink).parquet(sink).groupBy().count(),
            spark.read.parquet(blm)
            .filter(F.col("batch") == 0)
            .agg(F.sum("n_keys")),
        )
        return spark.createDataFrame(
            [
                (
                    n_doomed,
                    pre_current,
                    bool(rep["erasure_resumed"]),
                    bool(rep["consistent_after"]),
                    post_current,
                    journal_gone,
                    n_after,
                    n_keys_b0,
                )
            ],
            "n_doomed BIGINT, pre_current BOOLEAN, erasure_resumed "
            "BOOLEAN, consistent_after BOOLEAN, store_current_after "
            "BOOLEAN, journal_retired BOOLEAN, n_rows_after BIGINT, "
            "store_n_keys_batch0 BIGINT",
        )


Q285_SQL = """
WITH d AS (
  SELECT count(*) AS n FROM orders
  WHERE o_orderkey % 3 = 0 AND o_orderkey % 97 = 0
), b0 AS (
  SELECT count(*) AS n FROM orders WHERE o_orderkey % 3 = 0
)
SELECT (SELECT CAST(n AS BIGINT) FROM d) AS n_doomed,
       false AS pre_current,
       true AS erasure_resumed,
       true AS consistent_after,
       true AS store_current_after,
       true AS journal_retired,
       (SELECT CAST(count(*) AS BIGINT) FROM orders)
         - (SELECT CAST(n AS BIGINT) FROM d) AS n_rows_after,
       (SELECT CAST(b0.n - d.n AS BIGINT) FROM b0, d)
         AS store_n_keys_batch0
"""


# ------------------------------ compaction repair without _SUCCESS
#
# q286: the r12 durability marker under the gate — q280's crash chain
# on a cluster that DISABLES the writer's _SUCCESS file
# (mapreduce.fileoutputcommitter.marksuccessfuljobs=false, the ADVICE
# r11 scenario): the staged compaction is durable, its _SUCCESS
# deleted, compact_batch's own commit marker present. Keying the
# repair on _SUCCESS would misread the staging as torn and silently
# discard the compaction; keying on the marker completes the swap —
# the pinned file count proves which path ran (completed = 1 file,
# restored = 4). Manifest reconciled, pruned read oracle-exact,
# marker cleaned.

def q286_compaction_marker_repair(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..sources.formats import repair_compaction
    from ..sources.manifest import read_pruned, write_batch_stats
    from ..sources.retention import (
        _COMPACT_COMMIT,
        _COMPACT_STAGING,
        _COMPACT_TRASH,
        _fs,
        _write_text,
    )

    with _scratch("q286_marker_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        for m in range(4):  # four single-file appends
            (
                orders.filter(F.col("o_orderkey") % 4 == m)
                .coalesce(1)
                .write.mode("append")
                .parquet(f"{sink}/batch=0")
            )
        write_batch_stats(spark, sink, man, 0, ["o_orderkey"])
        fs, hpath = _fs(spark, sink)
        # mid-swap crash on a _SUCCESS-less cluster: durable staging
        # with its _SUCCESS removed, compact_batch's own marker
        # present, partition retired to the hidden trash
        staging = f"{sink}/{_COMPACT_STAGING}0"
        spark.read.parquet(f"{sink}/batch=0").coalesce(1).write.parquet(
            staging
        )
        fs.delete(hpath(f"{staging}/_SUCCESS"), False)
        commit = f"{sink}/{_COMPACT_COMMIT}0.json"
        _write_text(spark, commit, json.dumps({"batch": 0}))
        fs.rename(
            hpath(f"{sink}/batch=0"), hpath(f"{sink}/{_COMPACT_TRASH}0")
        )
        rep = repair_compaction(spark, sink, man, 0).collect()[0]
        files_after = sum(
            1
            for st in fs.listStatus(hpath(f"{sink}/batch=0"))
            if st.getPath().getName().startswith("part-")
        )
        marker_cleaned = not fs.exists(hpath(commit))
        n_rows, lo = _fold_scalars(
            spark.read.parquet(f"{sink}/batch=0").groupBy().count(),
            orders.agg(F.min("o_orderkey")),
        )
        pruned_n = read_pruned(
            spark, spark.read.parquet(man), "o_orderkey", lo, lo + 99
        ).count()
        return spark.createDataFrame(
            [
                (
                    rep["action"] == "completed",
                    files_after,
                    marker_cleaned,
                    bool(rep["consistent_after"]),
                    n_rows,
                    pruned_n,
                )
            ],
            "swap_completed BOOLEAN, files_after BIGINT, "
            "marker_cleaned BOOLEAN, consistent_after BOOLEAN, "
            "n_rows BIGINT, pruned_read_rows BIGINT",
        )


Q286_SQL = """
WITH lo AS (SELECT min(o_orderkey) AS lo FROM orders)
SELECT true AS swap_completed,
       CAST(1 AS BIGINT) AS files_after,
       true AS marker_cleaned,
       true AS consistent_after,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM orders, lo
        WHERE o_orderkey BETWEEN lo AND lo + 99) AS pruned_read_rows
"""




# ===================== round-14 additions (merged from the staged
# catalog_queries_r14.py at the r14 rotation - a back-import would be
# circular; same convention as the r9-r13 merges) =====================

# ------------------------------------ erasure under a concurrent append
#
# q287: the race every compliance pipeline eventually hits — subject
# rows RE-INGESTED after the delete ran. erase_rows' documented
# semantics are manifest-as-of-start: the first delete covers exactly
# the batches enveloped when it planned, so a batch landing afterwards
# (with its own manifest rows, the appender's contract) keeps its
# subject rows and the audit stays green — erasure is not a standing
# subscription. The SECOND delete with the same opt-out list then
# removes them, and because the doomed keys are the corpus's lowest
# and round 1 refreshed batch 0's envelope past them, round 2 rewrites
# ONLY the re-ingested batch — the zone-map pruning survives the race.
# Every count is oracle-recomputed from orders arithmetic.

def q287_erasure_concurrent_append(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..sources.manifest import write_batch_stats
    from ..sources.retention import erase_rows
    from ..streaming.audit import manifest_consistency_audit

    with _scratch("q287_conc_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        orders = load_table(spark, sf, "orders").select("o_orderkey")
        hi = orders.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
        w = hi // 3 + 1
        df = orders.select(
            "o_orderkey",
            F.expr(f"o_orderkey div {w}").cast("int").alias("batch"),
        )
        _land_partitioned(spark, df, sink, man, ["o_orderkey"])
        # the opt-out list: the 50 smallest order keys — interior to
        # batch 0's envelope before round 1, OUTSIDE it after
        doomed = (
            orders.orderBy("o_orderkey").limit(50).select("o_orderkey")
        )
        # single consumer of a local report frame: no persist needed
        erased1 = int(
            erase_rows(spark, sink, man, "o_orderkey", doomed)
            .agg(F.sum("rows_erased"))
            .collect()[0][0]
        )
        # the concurrent append: the same subject rows land as batch 3
        # AFTER the delete completed, with the appender's manifest rows
        (
            doomed.withColumn("batch", F.lit(3))
            .write.mode("append")
            .partitionBy("batch")
            .parquet(sink)
        )
        write_batch_stats(spark, sink, man, 3, ["o_orderkey"])
        consistent_mid = bool(
            manifest_consistency_audit(spark, sink, man)
            .collect()[0]["consistent"]
        )
        r2 = {
            int(r["batch"]): r
            for r in erase_rows(
                spark, sink, man, "o_orderkey", doomed
            ).collect()
        }
        erased2 = sum(int(r["rows_erased"]) for r in r2.values())
        n_rewritten2 = sum(1 for r in r2.values() if r["rewritten"])
        batch0_spared = (0 not in r2) or (not r2[0]["rewritten"])
        n_final = (
            spark.read.option("basePath", sink).parquet(sink).count()
        )
        consistent_final = bool(
            manifest_consistency_audit(spark, sink, man)
            .collect()[0]["consistent"]
        )
        return spark.createDataFrame(
            [
                (
                    50,
                    erased1,
                    consistent_mid,
                    erased2,
                    n_rewritten2,
                    batch0_spared,
                    n_final,
                    consistent_final,
                )
            ],
            "n_doomed BIGINT, erased_round1 BIGINT, consistent_mid "
            "BOOLEAN, erased_round2 BIGINT, n_batches_rewritten_round2 "
            "BIGINT, batch0_spared_round2 BOOLEAN, n_rows_final BIGINT, "
            "consistent_final BOOLEAN",
        )


Q287_SQL = """
SELECT CAST(50 AS BIGINT) AS n_doomed,
       CAST(50 AS BIGINT) AS erased_round1,
       true AS consistent_mid,
       CAST(50 AS BIGINT) AS erased_round2,
       CAST(1 AS BIGINT) AS n_batches_rewritten_round2,
       true AS batch0_spared_round2,
       (SELECT CAST(count(*) - 50 AS BIGINT) FROM orders) AS n_rows_final,
       true AS consistent_final
"""


# -------------------------------- IVF maintenance chained with snapshots
#
# q288: the serving-index maintenance loop — an IVF index over half the
# corpus is committed as snapshot v1, the other half arrives and is
# assigned against the FROZEN centroid table (ivf_increment's shape:
# cost ∝ batch, never corpus), landed as batch 1, committed as v2. The
# chain pins what makes frozen-centroid increments trustworthy: the
# incrementally-grown index is EXACTLY what a full ivf_assign rebuild
# over the whole corpus produces (same frozen centroids ⇒ same argmin,
# deterministic tie-break), the snapshot diff v1→v2 is exactly the
# arriving half, and the ledger's rows_added agrees. Counts
# oracle-recomputed from embeddings parity arithmetic.

def q288_ivf_snapshot_maintenance(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..operators.similarity import ivf_assign, ivf_increment, seed_centroids
    from ..sources.manifest import write_batch_stats
    from ..sources.snapshots import (
        commit_snapshot,
        read_as_of,
        snapshot_diff,
        snapshot_ledger,
    )

    with _scratch("q288_ivf_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        emb = (
            load_table(spark, sf, "embeddings")
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            .persist()  # feeds v1/arriving, the full rebuild and the count
        )
        v1 = emb.filter(F.col("vec_id") % 2 == 0)
        arriving = emb.filter(F.col("vec_id") % 2 == 1)
        cents = seed_centroids(v1, 16).persist()
        a1 = ivf_assign(v1, cents).persist()  # feeds write + anti-join
        a1.withColumn("batch", F.lit(0)).write.partitionBy(
            "batch"
        ).parquet(sink)
        write_batch_stats(spark, sink, man, 0, ["vec_id"])
        commit_snapshot(spark, man, log)
        inc = ivf_increment(arriving, cents, a1)
        add = inc["assigned"].join(
            a1.select("vec_id"), "vec_id", "left_anti"
        )
        add.withColumn("batch", F.lit(1)).write.mode(
            "append"
        ).partitionBy("batch").parquet(sink)
        write_batch_stats(spark, sink, man, 1, ["vec_id"])
        v2 = commit_snapshot(spark, man, log)
        stored = spark.read.option("basePath", sink).parquet(sink)
        full = ivf_assign(emb, cents)
        mismatch = (
            stored.select("vec_id", "cell")
            .join(
                full.select("vec_id", F.col("cell").alias("c2")), "vec_id"
            )
            .filter(F.col("cell") != F.col("c2"))
        )
        v1_rows, diff_rows, v2_rows, n_mismatch, n_vectors = _fold_scalars(
            *(
                f.groupBy().count()
                for f in (
                    read_as_of(spark, sink, log, 1),
                    snapshot_diff(spark, sink, log, 1, v2),
                    stored,
                    mismatch,
                    emb,
                )
            )
        )
        ledger = {
            int(r["version"]): int(r["rows_added"])
            for r in snapshot_ledger(spark, log).collect()
        }
        a1.unpersist()
        cents.unpersist()
        emb.unpersist()
        return spark.createDataFrame(
            [
                (
                    n_vectors,
                    v1_rows,
                    diff_rows,
                    v2_rows,
                    n_mismatch == 0,
                    ledger.get(v2) == diff_rows,
                )
            ],
            "n_vectors BIGINT, v1_rows BIGINT, diff_rows BIGINT, "
            "v2_rows BIGINT, increment_equals_rebuild BOOLEAN, "
            "ledger_added_matches BOOLEAN",
        )


Q288_SQL = """
WITH e AS (SELECT count(*) AS n FROM embeddings),
     ev AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 2 = 0)
SELECT (SELECT CAST(n AS BIGINT) FROM e) AS n_vectors,
       (SELECT CAST(n AS BIGINT) FROM ev) AS v1_rows,
       (SELECT CAST(e.n - ev.n AS BIGINT) FROM e, ev) AS diff_rows,
       (SELECT CAST(n AS BIGINT) FROM e) AS v2_rows,
       true AS increment_equals_rebuild,
       true AS ledger_added_matches
"""


# ------------------------- incremental exact dedup fed by snapshot_diff
#
# q289: the daily-crawl composition — dedup state bootstrapped from the
# v1 pin, the increment running over EXACTLY the rows v2 added
# (snapshot_diff, batch-partition cost), never a corpus rescan. The
# v1/delta split is by doc_id range, so the exact tier's
# sequential-equals-batch guarantee holds at ID grain (earlier batches
# hold smaller ids — the online keep-lowest rule and the global
# keep-lowest rule pick the same survivors) and is pinned as a
# boolean. Every count is oracle-recomputed from md5-fingerprint
# arithmetic over the same range split.

def q289_incremental_dedup_snapshot_diff(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..operators.incremental_dedup import exact_increment, exact_state
    from ..sources.manifest import write_batch_stats
    from ..sources.snapshots import commit_snapshot, read_as_of, snapshot_diff

    with _scratch("q289_inc_") as base:
        sink, man, log = f"{base}/sink", f"{base}/man", f"{base}/log"
        docs = load_table(spark, sf, "documents").select(
            "doc_id", "text"
        )
        mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        m = mx // 2
        for b, cond in ((0, F.col("doc_id") < m), (1, F.col("doc_id") >= m)):
            docs.filter(cond).withColumn("batch", F.lit(b)).write.mode(
                "append"
            ).partitionBy("batch").parquet(sink)
            write_batch_stats(spark, sink, man, b, ["doc_id"])
            commit_snapshot(spark, man, log)
        v1_docs = read_as_of(spark, sink, log, 1)
        # the pin is deduplicated before it becomes state (exact_state's
        # precondition): keep the lowest id per fingerprint
        v1_fp = v1_docs.select(
            "doc_id", T.fingerprint("text").alias("f")
        ).persist()  # feeds the keep set AND the guarantee check
        v1_keep = v1_fp.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
        v1_kept_docs = v1_docs.join(
            v1_keep.select("doc_id"), "doc_id", "left_semi"
        )
        state = exact_state(v1_kept_docs)
        delta = snapshot_diff(spark, sink, log, 1, 2)
        inc = exact_increment(delta, state)
        kept_new = inc["kept"].select("doc_id").persist()
        # dropped decomposition, engine-side: within-batch collapse vs
        # already-in-corpus
        d_fp = delta.select("doc_id", T.fingerprint("text").alias("f"))
        d_first = d_fp.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
        # sequential == batch at ID grain (range split ⇒ guaranteed)
        all_fp = docs.select("doc_id", T.fingerprint("text").alias("f"))
        batch_keep = all_fp.groupBy("f").agg(
            F.min("doc_id").alias("doc_id")
        ).select("doc_id")
        seq_keep = v1_keep.select("doc_id").unionByName(kept_new)
        # the persisted frames materialize inside the one fold action
        (
            n_v1, n_v1_kept, n_delta, n_new_kept, n_first, n_cross,
            n_seq_only, n_batch_only,
        ) = _fold_scalars(
            *(
                f.groupBy().count()
                for f in (
                    v1_docs,
                    v1_keep,
                    delta,
                    kept_new,
                    d_first,
                    d_first.join(
                        v1_fp.select("f").distinct(), "f", "left_semi"
                    ),
                    seq_keep.join(batch_keep, "doc_id", "left_anti"),
                    batch_keep.join(seq_keep, "doc_id", "left_anti"),
                )
            )
        )
        n_within = n_delta - n_first
        seq_eq_batch = n_seq_only == 0 and n_batch_only == 0
        v1_fp.unpersist()
        kept_new.unpersist()
        return spark.createDataFrame(
            [
                (
                    n_v1,
                    n_v1_kept,
                    n_delta,
                    n_new_kept,
                    n_cross,
                    n_within,
                    seq_eq_batch,
                )
            ],
            "n_v1 BIGINT, n_v1_kept BIGINT, n_delta BIGINT, n_new_kept "
            "BIGINT, n_dropped_cross BIGINT, n_dropped_within BIGINT, "
            "sequential_equals_batch BOOLEAN",
        )


Q289_SQL = r"""
WITH m AS (SELECT max(doc_id) // 2 AS m FROM documents),
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
  FROM documents
),
v1 AS (SELECT doc_id, f FROM fp, m WHERE doc_id < m.m),
d  AS (SELECT doc_id, f FROM fp, m WHERE doc_id >= m.m),
v1f AS (SELECT DISTINCT f FROM v1),
df AS (SELECT f, count(*) AS c FROM d GROUP BY f)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM v1) AS n_v1,
       (SELECT CAST(count(*) AS BIGINT) FROM v1f) AS n_v1_kept,
       (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_delta,
       (SELECT CAST(count(*) AS BIGINT) FROM df
        WHERE f NOT IN (SELECT f FROM v1f)) AS n_new_kept,
       (SELECT CAST(count(*) AS BIGINT) FROM df
        WHERE f IN (SELECT f FROM v1f)) AS n_dropped_cross,
       (SELECT CAST(coalesce(sum(c), 0) - count(*) AS BIGINT) FROM df)
         AS n_dropped_within,
       true AS sequential_equals_batch
"""


# ----------------------------------------------- corpus release report
#
# q290: the one-row release datacard a training run signs off on —
# quality gate (q22's score at a fixed 0.5 cut, the q134 convention) →
# exact dedup among survivors (q19's keep-lowest rule) → token census →
# packing plan (q75's concat-and-chunk at budget 512 over 16 md5
# shards). The packing operator's sequence count is cross-checked
# in-query against the closed-form Σ_shards ceil(tokens/512) — the
# arithmetic the oracle recomputes — so a packing regression is a hash
# mismatch. All integer arithmetic; one Exchange per stage.

def q290_corpus_release_report(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.packing import pack_concat_chunk

    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        T.token_count("text").cast("bigint").alias("n_tokens"),
        T.quality_score("text").cast("decimal(9,6)").alias("q"),
    ).persist()  # feeds the census AND the gate (regex-heavy: score once)
    passed = scored.filter(F.col("q") >= 0.5)
    fps = passed.select(
        "doc_id", "n_tokens", T.fingerprint("text").alias("f")
    )
    keep = fps.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
    kept = fps.join(keep, ["f", "doc_id"], "left_semi").persist()
    pack = pack_concat_chunk(
        kept.select("doc_id", "n_tokens"), "n_tokens", budget=512
    )
    shard_stats = pack.groupBy("shard").agg(
        F.sum("n_tokens").alias("t"),
        F.max(
            F.when(F.col("n_tokens") > 0, F.col("last_seq") + 1)
        ).alias("op_seqs"),
    )
    pack_agg = shard_stats.agg(
        F.coalesce(
            F.sum(F.expr("CASE WHEN t > 0 THEN (t + 511) div 512 END")),
            F.lit(0),
        ).alias("__arith"),
        F.coalesce(
            F.sum(F.coalesce("op_seqs", F.lit(0))), F.lit(0)
        ).alias("__op"),
    )
    return (
        scored.agg(F.count("*").alias("__nd"))
        .crossJoin(passed.agg(F.count("*").alias("__np")))
        .crossJoin(
            kept.agg(
                F.count("*").alias("__nk"),
                F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("__tt"),
            )
        )
        .crossJoin(pack_agg)
        .select(
            F.col("__nd").cast("bigint").alias("n_docs"),
            F.col("__np").cast("bigint").alias("n_quality_pass"),
            F.col("__nk").cast("bigint").alias("n_after_dedup"),
            F.col("__tt").cast("bigint").alias("total_tokens"),
            F.col("__op").cast("bigint").alias("n_sequences"),
            (F.col("__arith") == F.col("__op")).alias(
                "pack_matches_arithmetic"
            ),
        )
    )


_SQL_EN_R14 = ", ".join(f"'{w}'" for w in T.STOPWORDS_EN)

Q290_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
             x -> x <> '') AS t,
         CAST(length(text) - length(
             regexp_replace(text, '[!-/:-@\[-`{{-~]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_r
  FROM documents
), scored AS (
  SELECT doc_id, text,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(least(len(t) / 100.0, 1.0) * 0.4
            + least(CAST(len(list_filter(t, x ->
                  list_contains([{_SQL_EN_R14}], x))) AS DOUBLE)
                / greatest(len(t), 1) * 5.0, 1.0) * 0.4
            + greatest(1.0 - punct_r * 4.0, 0.0) * 0.2
            AS DECIMAL(9,6)) AS q
  FROM base
), passed AS (
  SELECT doc_id, text, n_tokens FROM scored WHERE q >= 0.5
), kept AS (
  SELECT min(doc_id) AS doc_id
  FROM (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
    FROM passed
  ) GROUP BY f
), ktok AS (
  SELECT k.doc_id, p.n_tokens,
         CAST(CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 16 AS INT) AS shard
  FROM kept k JOIN passed p USING (doc_id)
), sh AS (
  SELECT shard, sum(n_tokens) AS t FROM ktok GROUP BY shard
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM scored) AS n_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM passed) AS n_quality_pass,
       (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_after_dedup,
       (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM ktok)
         AS total_tokens,
       (SELECT CAST(coalesce(sum((t + 511) // 512), 0) AS BIGINT)
        FROM sh WHERE t > 0) AS n_sequences,
       true AS pack_matches_arithmetic
"""


# -------------------------------------------------- vector-store erasure
#
# q291: the right-to-be-forgotten loop for a VECTOR corpus — the
# compliance delete runs over the embedding sink (manifest-pruned
# rewrite; here the doomed ids are hash-spread so every batch honestly
# rewrites), and the chain pins what serving cares about: the rebuilt
# ANN index holds EXACTLY the survivors (completeness both ways), and
# no top-k probe can ever return an erased vector. Counts
# oracle-recomputed from embeddings arithmetic; the probe result size
# is exact (5 queries × k=10 over a corpus far larger than k).

def q291_vector_store_erasure(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.similarity import ivf_assign, knn_bruteforce, seed_centroids
    from ..sources.retention import erase_rows
    from ..streaming.audit import manifest_consistency_audit

    with _scratch("q291_vec_") as base:
        sink, man = f"{base}/sink", f"{base}/man"
        emb = (
            load_table(spark, sf, "embeddings")
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
            .persist()  # feeds count/max, the sink write and the opt-outs
        )
        # ONE scan yields the vector count AND the id ceiling (was two
        # driver-sequenced jobs over the persisted frame — r14 fold)
        head = emb.agg(
            F.count(F.lit(1)).alias("n"), F.max("vec_id").alias("m")
        ).collect()[0]
        n, hi = int(head["n"]), head["m"]
        w = hi // 4 + 1
        df = emb.select(
            "vec_id",
            "embedding",
            F.expr(f"vec_id div {w}").cast("int").alias("batch"),
        )
        _land_partitioned(spark, df, sink, man, ["vec_id"])
        doomed = emb.filter(F.col("vec_id") % 17 == 0).select("vec_id")
        # single consumer of a local report frame: no persist needed
        n_erased = int(
            erase_rows(spark, sink, man, "vec_id", doomed)
            .agg(F.sum("rows_erased"))
            .collect()[0][0]
        )
        emb.unpersist()
        consistent = bool(
            manifest_consistency_audit(spark, sink, man)
            .collect()[0]["consistent"]
        )
        survivors = (
            spark.read.option("basePath", sink)
            .parquet(sink)
            .select("vec_id", "embedding")
            .persist()  # feeds the index, the probes, and completeness
        )
        cents = seed_centroids(survivors, 8)
        index = ivf_assign(survivors, cents).persist()
        queries = survivors.orderBy("vec_id").limit(5)
        topk = knn_bruteforce(
            index.select("vec_id", "embedding"), queries, k=10
        ).persist()
        # the persisted index/topk frames materialize inside the one
        # fold action
        n_index, n_extra, n_missing, n_topk, n_doomed_hits = _fold_scalars(
            *(
                f.groupBy().count()
                for f in (
                    index,
                    index.select("vec_id").join(
                        survivors.select("vec_id"), "vec_id", "left_anti"
                    ),
                    survivors.select("vec_id").join(
                        index.select("vec_id"), "vec_id", "left_anti"
                    ),
                    topk,
                    topk.filter(F.col("neighbor_id") % 17 == 0),
                )
            )
        )
        complete = n_extra == 0 and n_missing == 0
        topk.unpersist()
        index.unpersist()
        survivors.unpersist()
        return spark.createDataFrame(
            [
                (
                    n,
                    n_erased,
                    n_index,
                    complete,
                    n_topk,
                    n_doomed_hits == 0,
                    consistent,
                )
            ],
            "n_vectors BIGINT, n_erased BIGINT, n_index_rows BIGINT, "
            "index_complete BOOLEAN, n_topk_rows BIGINT, "
            "no_doomed_in_topk BOOLEAN, consistent_after BOOLEAN",
        )


Q291_SQL = """
WITH e AS (SELECT count(*) AS n FROM embeddings),
     d AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 17 = 0)
SELECT CAST(e.n AS BIGINT) AS n_vectors,
       CAST(d.n AS BIGINT) AS n_erased,
       CAST(e.n - d.n AS BIGINT) AS n_index_rows,
       true AS index_complete,
       CAST(50 AS BIGINT) AS n_topk_rows,
       true AS no_doomed_in_topk,
       true AS consistent_after
FROM e, d
"""


# ---------------------------------- capacity-aware temperature mixing
#
# q292: the redistribution step plan_epochs (q124/q139) stops short
# of. Capping a small source at `cap` epochs leaves part of the token
# budget unspent; real mixing recipes re-normalize so the excess flows
# to the uncapped sources — the water-filling fixpoint, which
# recipe.waterfill_budget solves in closed form (exclusive-cumsum
# threshold scan over the capacity/weight ratio order; equivalence to
# the iterative fixpoint pinned in tests/test_recipe.py). Here the mix
# axis is document LENGTH BANDS (tok div 16) — the curriculum/packing
# knob — whose token masses are naturally ~20x skewed, so with cap=2
# and budget = 1.5x the corpus the short bands cap and the scan does
# real cascade work at every scale. Every cumulative quantity is an
# exact integer/decimal sum (the q103 boundary pattern: sqrt + decimal
# casts, no libm); the oracle runs the identical scan, so allocations
# cross the hash gate bit-for-bit, not as banded booleans.

def q292_lengthband_waterfill(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..operators.recipe import waterfill_budget

    docs = load_table(spark, sf, "documents")
    per = (
        docs.select(T.token_count("text").cast("bigint").alias("tok"))
        .select(F.expr("tok div 16").cast("bigint").alias("band"), "tok")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("avail_tokens"),
        )
        .persist()  # feeds the weight normalizer, the scan and the totals
    )
    # one bounded driver scalar (the date-spine-bounds precedent):
    # budget = 1.5x the corpus token mass, exact integer arithmetic
    tot = int(per.agg(F.sum("avail_tokens")).collect()[0][0])
    filled = waterfill_budget(
        per, "avail_tokens", budget=tot * 3 // 2, cap=2, key_cols=("band",)
    )
    return filled.select(
        "band",
        "n_docs",
        "avail_tokens",
        "capacity",
        "capped",
        "alloc_tokens",
        "water_level",
        (F.col("alloc_tokens") / F.col("avail_tokens").cast("double")).alias(
            "epochs_planned"
        ),
    )


Q292_SQL = r"""
WITH d AS (
  SELECT len(list_filter(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '')) AS tok
  FROM documents
), per AS (
  SELECT CAST(tok // 16 AS BIGINT) AS band,
         count(*) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS avail_tokens
  FROM d GROUP BY 1
), tot AS (
  SELECT CAST(sum(avail_tokens) AS BIGINT) AS tot_tokens FROM per
), shared AS (
  -- mirror waterfill_budget's avail > 0 drop: a zero-token band
  -- carries zero weight and zero capacity on the Spark side and is
  -- excluded from the fill (its tokens add nothing to tot_tokens, so
  -- the shares and budget are unchanged by the filter)
  SELECT band, n_docs, avail_tokens,
         CAST(avail_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS share,
         CAST(tot_tokens * 3 // 2 AS BIGINT) AS budget
  FROM per CROSS JOIN tot
  WHERE avail_tokens > 0
), weighted AS (
  SELECT *,
         CAST(sqrt(share) AS DECIMAL(18,9)) AS temp_w,
         CAST(avail_tokens * 2 AS BIGINT) AS capacity
  FROM shared
), norm AS (
  SELECT sum(CAST(temp_w AS DECIMAL(28,9))) AS z FROM weighted
), ranked AS (
  SELECT w.*, n.z,
         CAST(capacity AS DOUBLE) / CAST(temp_w AS DOUBLE) AS cap_ratio,
         COALESCE(CAST(sum(capacity) OVER scan AS BIGINT), 0) AS cum_c,
         COALESCE(sum(CAST(temp_w AS DECIMAL(28,9))) OVER scan,
                  CAST(0 AS DECIMAL(28,9))) AS cum_w
  FROM weighted w CROSS JOIN norm n
  WINDOW scan AS (
    ORDER BY CAST(capacity AS DOUBLE) / CAST(temp_w AS DOUBLE), band
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), flagged AS (
  SELECT *,
         (CAST(budget - cum_c AS DOUBLE) / CAST(z - cum_w AS DOUBLE))
           > cap_ratio AS capped
  FROM ranked
), tots AS (
  SELECT COALESCE(CAST(sum(CASE WHEN capped THEN capacity END) AS BIGINT),
                  0) AS c_cap,
         COALESCE(sum(CASE WHEN NOT capped
                           THEN CAST(temp_w AS DECIMAL(28,9)) END),
                  CAST(0 AS DECIMAL(28,9))) AS w_unc
  FROM flagged
), lam AS (
  SELECT f.*,
         CASE WHEN t.w_unc > 0
              THEN CAST(f.budget - t.c_cap AS DOUBLE)
                     / CAST(t.w_unc AS DOUBLE)
              ELSE 0.0 END AS water_level
  FROM flagged f CROSS JOIN tots t
)
SELECT band, n_docs, avail_tokens, capacity, capped,
       CASE WHEN capped THEN CAST(capacity AS DOUBLE)
            ELSE water_level * CAST(temp_w AS DOUBLE) END AS alloc_tokens,
       water_level,
       (CASE WHEN capped THEN CAST(capacity AS DOUBLE)
             ELSE water_level * CAST(temp_w AS DOUBLE) END)
         / CAST(avail_tokens AS DOUBLE) AS epochs_planned
FROM lam
"""


# ------------------------------------ integer sampling-schedule quotas
#
# q293: the step AFTER mixing — a sampling plan needs "how many
# sequences from each band", an INTEGER that sums to exactly the
# schedule size, not 8883.91 tokens. recipe.integer_apportion is
# Hamilton largest-remainder apportionment: floor everyone's
# real-valued entitlement, then hand the leftover units to the
# largest fractional parts (total-order tie-break on band). The
# operator REFUSES double weights — their normalizer would be an
# order-dependent parallel sum, nondeterministic on one engine and
# unreproducible across two — so the query feeds it the exact
# decimal(18,9) temperature weights; quota/floor/fraction are then
# correctly-rounded doubles of identical exact operands and the
# integer allocations cross the hash gate exactly.

def q293_apportion_schedule(
    spark: SparkSession, sf: str
) -> DataFrame:
    from ..operators.recipe import integer_apportion, with_temperature_weights

    docs = load_table(spark, sf, "documents")
    per = (
        docs.select(T.token_count("text").cast("bigint").alias("tok"))
        .select(F.expr("tok div 16").cast("bigint").alias("band"), "tok")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("avail_tokens"),
        )
        .persist()  # feeds the weight normalizer and the apportionment
    )
    tot = int(per.agg(F.sum("avail_tokens")).collect()[0][0])
    # q292's token budget, cut into 512-token schedule slots
    total_seqs = (tot * 3 // 2) // 512
    weighted = with_temperature_weights(per, "avail_tokens")
    out = integer_apportion(
        weighted, "temp_w", total_seqs, key_cols=("band",)
    )
    return out.select(
        "band", "n_docs", "avail_tokens", "quota", "base", "extra", "alloc"
    )


Q293_SQL = r"""
WITH d AS (
  SELECT len(list_filter(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '')) AS tok
  FROM documents
), per AS (
  SELECT CAST(tok // 16 AS BIGINT) AS band,
         count(*) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS avail_tokens
  FROM d GROUP BY 1
), tot AS (
  SELECT CAST(sum(avail_tokens) AS BIGINT) AS tot_tokens FROM per
), shared AS (
  SELECT band, n_docs, avail_tokens,
         CAST(avail_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS share,
         CAST((tot_tokens * 3 // 2) // 512 AS BIGINT) AS total_seqs
  FROM per CROSS JOIN tot
), weighted AS (
  SELECT *, CAST(sqrt(share) AS DECIMAL(18,9)) AS temp_w
  FROM shared
), norm AS (
  SELECT sum(CAST(temp_w AS DECIMAL(38,9))) AS w_norm FROM weighted
), based AS (
  SELECT w.*,
         CAST(total_seqs AS DOUBLE) * CAST(temp_w AS DOUBLE)
           / CAST(n.w_norm AS DOUBLE) AS quota
  FROM weighted w CROSS JOIN norm n
), fl AS (
  SELECT *, CAST(floor(quota) AS BIGINT) AS base,
         quota - CAST(CAST(floor(quota) AS BIGINT) AS DOUBLE) AS frac
  FROM based
), rem AS (
  SELECT CAST((SELECT min(total_seqs) FROM fl) - sum(base) AS BIGINT)
           AS leftover
  FROM fl
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY frac DESC, band) AS rk
  FROM fl
)
SELECT band, n_docs, avail_tokens, quota, base,
       CAST((rk <= leftover AND temp_w > 0) AS BIGINT) AS extra,
       base + CAST((rk <= leftover AND temp_w > 0) AS BIGINT) AS alloc
FROM ranked CROSS JOIN rem
"""


# ---------------------------------------------------------------- registry
#
# One entry per query, declared once: the query function, its DuckDB
# oracle SQL (none for a rows-only query), and the oracle's boundary
# casts. A cast names an output column whose DuckDB client type differs
# from Spark's (DECIMAL or HUGEINT -> DOUBLE or BIGINT, TIMESTAMP ->
# EPOCH_US), found via DESCRIBE over every oracle; parity.py enforces the
# ban. QUERIES and ORACLES are derived from this table.
#
# The table's ORDER is the driver's audit-window contract: the first 50
# entries are audited each round. The rotation rule and each round's
# rationale are stated in COVERAGE.md's "Driver audit window" paragraph;
# tests/test_registry_window.py pins the window.

_QueryFn = Callable[[SparkSession, str], DataFrame]


def _q(
    fn: _QueryFn, sql: str | None = None, casts: dict[str, str] | None = None
) -> tuple[_QueryFn, str | None, dict[str, str]]:
    return fn, sql, casts or {}


_REGISTRY = (
    # --- audit window, positions 1-7: the r14 data-plane compositions
    _q(q287_erasure_concurrent_append, Q287_SQL),
    _q(q288_ivf_snapshot_maintenance, Q288_SQL),
    _q(q289_incremental_dedup_snapshot_diff, Q289_SQL),
    _q(q290_corpus_release_report, Q290_SQL),
    _q(q291_vector_store_erasure, Q291_SQL),
    _q(q292_lengthband_waterfill, Q292_SQL),
    _q(q293_apportion_schedule, Q293_SQL),
    # --- 8-13: the r13 partial-oracle upgrades (former rows-only)
    _q(q26_minhash_dedup, Q26_SQL, {"jaccard": "DOUBLE"}),
    _q(q69_sign_lsh_neardup, Q69_SQL),
    _q(q72_semantic_dedup, Q72_SQL),
    _q(q81_kll_quantiles, Q81_SQL),
    _q(q82_theta_distinct, Q82_SQL),
    _q(q87_join_overlap_estimate, Q87_SQL),
    # --- 14-32: the 19 r8-verdict queries no earlier window re-audited
    _q(q76_tfidf_topterms, Q76_SQL),
    _q(q77_source_mix, Q77_SQL),
    _q(q78_event_funnel, Q78_SQL, {
        "view_ts": "EPOCH_US", "click_ts": "EPOCH_US", "purchase_ts": "EPOCH_US",
    }),
    _q(q79_heavy_join_keys, Q79_SQL),
    _q(q80_cms_heavy_hitters, Q80_SQL),
    _q(q83_cdc_apply, Q83_SQL),
    _q(q84_length_outliers, Q84_SQL),
    _q(q85_zorder_key, Q85_SQL),
    _q(q86_token_chunks, Q86_SQL),
    _q(q89_apply_source_mix, Q89_SQL),
    _q(q90_profit_by_nation_year, Q90_SQL, {"sum_profit": "DOUBLE"}),
    _q(q91_bilateral_volume, Q91_SQL, {"revenue": "DOUBLE"}),
    _q(q92_hierarchy_shares, Q92_SQL, {"revenue": "DOUBLE"}),
    _q(q93_incremental_rollup, Q93_SQL, {"sum_qty": "DOUBLE", "revenue": "DOUBLE"}),
    _q(q94_distinct_under_rollup, Q94_SQL),
    _q(q95_order_history_nested, Q95_SQL),
    _q(q96_gap_filled_daily_revenue, Q96_SQL, {"revenue": "DOUBLE"}),
    _q(q97_drift_chi2, Q97_SQL),
    _q(q98_order_count_histogram, Q98_SQL),
    # --- 33-50: the first 18 of the r9-verdict block
    _q(q251_pagerank_checkpoint_resume, Q251_SQL),
    _q(q252_grouped_topk_verified, Q252_SQL),
    _q(q253_topk_state_rollup, Q253_SQL),
    _q(q254_delivery_ledger, Q254_SQL),
    _q(q255_snapshot_as_of, Q255_SQL),
    _q(q256_snapshot_ledger, Q256_SQL),
    _q(q257_targeted_erasure, Q257_SQL),
    _q(q258_snapshot_diff, Q258_SQL),
    _q(q259_snapshot_drift_audit, Q259_SQL),
    _q(q260_manifest_consistency_audit, Q260_SQL),
    _q(q261_schema_evolution_pin, Q261_SQL),
    _q(q262_grid_erasure, Q262_SQL),
    _q(q263_late_event_audit, Q263_SQL),
    _q(q264_log_retention_ledger, Q264_SQL),
    _q(q265_incremental_rollup_via_diff, Q265_SQL),
    _q(q99_split_leakage, Q99_SQL, {"max_jaccard": "DOUBLE"}),
    _q(q100_event_throttle, Q100_SQL),
    _q(q101_rolling_distinct_users, Q101_SQL),
    # ================= end of the 50-query audit window =================
    # --- the 32 remaining r9-verdict queries
    _q(q104_vocab_oov, Q104_SQL, {"oov_rate": "DOUBLE"}),
    _q(q105_label_cohesion, Q105_SQL, {"min_cos": "DOUBLE"}),
    _q(q106_leakage_safe_split, Q106_SQL),
    _q(q107_incremental_exact_dedup, Q107_SQL),
    _q(q109_corpus_datacard, Q109_SQL, {"dup_rate": "DOUBLE"}),
    _q(q110_content_chunks, Q110_SQL),
    _q(q111_chunk_dup_fraction, Q111_SQL, {"dup_chunk_frac": "DOUBLE"}),
    _q(q112_chunk_dedup_rewrite, Q112_SQL),
    _q(q113_pagerank_copurchase, Q113_SQL),
    _q(q115_boilerplate_ngrams, Q115_SQL),
    _q(q116_rolling_distinct_by_type, Q116_SQL),
    _q(q117_kmeans_quantized, Q117_SQL),
    _q(q118_embedding_dim_stats, Q118_SQL),
    _q(q119_token_rarity, Q119_SQL),
    _q(q120_source_overlap, Q120_SQL),
    _q(q121_boilerplate_strip, Q121_SQL),
    _q(q122_canonical_selection, Q122_SQL, {"canon_quality": "DOUBLE"}),
    _q(q125_ngram_novelty, Q125_SQL),
    _q(q126_random_projection, Q126_SQL),
    _q(q128_rolling_distinct_sketch, Q128_SQL),
    _q(q129_event_anomaly, Q129_SQL),
    _q(q130_pair_containment, Q130_SQL, {
        "jaccard": "DOUBLE", "containment": "DOUBLE", "size_ratio": "DOUBLE",
    }),
    _q(q131_packing_efficiency, Q131_SQL),
    _q(q132_dup_cluster_sizes, Q132_SQL),
    _q(q133_quality_percentiles_by_source, Q133_SQL, {
        "p50_quality": "DOUBLE", "p90_quality": "DOUBLE",
    }),
    _q(q137_adaptive_quality_gate, Q137_SQL, {"q": "DOUBLE", "thr": "DOUBLE"}),
    _q(q03_dedup_latest, Q03_SQL, {"qty": "DOUBLE"}),
    _q(q04_fact_build, Q04_SQL, {
        "qty": "DOUBLE", "revenue": "DOUBLE", "profit": "DOUBLE",
    }),
    _q(q05_sales_by_brand_rollup, Q05_SQL, {"sum_qty": "DOUBLE", "revenue": "DOUBLE"}),
    _q(q06_year_month_rollup, Q06_SQL, {"total_price": "DOUBLE"}),
    _q(q07_slicer_dashboard, Q07_SQL, {"sum_qty": "DOUBLE", "revenue": "DOUBLE"}),
    _q(q09_top5_parts_per_brand, Q09_SQL, {
        "profit": "DOUBLE", "profit_share": "DOUBLE",
    }),
    # --- r10 window greens (CORRECTNESS_r10), in their window order
    _q(q266_lineitem_contract, Q266_SQL),
    _q(q267_referential_gate, Q267_SQL),
    _q(q15_idempotent_append, Q15_SQL, {"qty": "DOUBLE"}),
    _q(q17_latest_order_per_customer, Q17_SQL, {"latest_total": "DOUBLE"}),
    _q(q20_ngram_jaccard_pairs, Q20_SQL, {"jaccard": "DOUBLE"}),
    _q(q22_text_quality, Q22_SQL, {
        "punct_ratio": "DOUBLE", "stopword_ratio": "DOUBLE", "quality": "DOUBLE",
    }),
    _q(q25_knn_bruteforce, Q25_SQL, {"cos_sim": "DOUBLE"}),
    _q(q29_event_type_stats, Q29_SQL, {"sum_value": "DOUBLE", "avg_k": "DOUBLE"}),
    _q(q30_event_daily_counts, Q30_SQL),
    _q(q31_sessionize_batch, Q31_SQL, {
        "session_no": "BIGINT", "sum_value": "DOUBLE", "session_start": "EPOCH_US",
        "session_end": "EPOCH_US",
    }),
    _q(q32_top_suppliers_per_nation, Q32_SQL, {"revenue": "DOUBLE"}),
    _q(q33_embedding_neardup, Q33_SQL, {"cos_sim": "DOUBLE"}),
    _q(q34_cube_region_segment, Q34_SQL, {"revenue": "DOUBLE"}),
    _q(q37_order_value_percentiles, Q37_SQL, {
        "median_value": "DOUBLE", "p90_value": "DOUBLE",
    }),
    _q(q42_revenue_mom, Q42_SQL, {"revenue": "DOUBLE", "mom_change": "DOUBLE"}),
    _q(q45_grouping_sets_sql, Q45_SQL, {"revenue": "DOUBLE"}),
    _q(q46_asof_click_attribution, Q46_SQL, {"purchase_ts": "EPOCH_US"}),
    _q(q47_price_band_join, Q47_SQL, {"gross": "DOUBLE"}),
    _q(q48_deterministic_split, Q48_SQL, {"sum_chars": "BIGINT"}),
    _q(q49_dedup_clusters, Q49_SQL),
    _q(q50_pivot_returnflag, Q50_SQL, {
        "qty_a": "DOUBLE", "qty_n": "DOUBLE", "qty_r": "DOUBLE",
    }),
    _q(q51_unpivot_measures, Q51_SQL, {"value": "DOUBLE"}),
    _q(q52_rolling_range_revenue, Q52_SQL, {
        "day_revenue": "DOUBLE", "rev_7day": "DOUBLE",
    }),
    _q(q53_supplier_revenue_distribution, Q53_SQL, {
        "revenue": "DOUBLE", "pct_rank": "DOUBLE", "cume": "DOUBLE",
        "nation_min_rev": "DOUBLE", "nation_max_rev": "DOUBLE",
    }),
    _q(q54_small_quantity_parts, Q54_SQL, {"small_revenue": "DOUBLE"}),
    _q(q55_promo_revenue_share, Q55_SQL, {
        "promo_revenue": "DOUBLE", "total_revenue": "DOUBLE", "promo_share": "DOUBLE",
    }),
    _q(q56_spend_deciles, Q56_SQL, {
        "min_spend": "DOUBLE", "max_spend": "DOUBLE", "sum_spend": "DOUBLE",
    }),
    _q(q57_stratified_sample, Q57_SQL, {"sum_bal": "DOUBLE"}),
    _q(q58_hopping_window_counts, Q58_SQL, {
        "sum_value": "DOUBLE", "win_start": "EPOCH_US",
    }),
    _q(q59_global_topk, Q59_SQL, {"revenue": "DOUBLE"}),
    _q(q60_late_unreturned_orders, Q60_SQL, {"sum_price": "DOUBLE"}),
    _q(q61_bloom_semi_reduction, Q61_SQL, {"revenue": "DOUBLE"}),
    _q(q62_price_histogram, Q62_SQL, {"sum_price": "DOUBLE"}),
    _q(q63_embedding_norms, Q63_SQL),
    _q(q64_pricing_summary, Q64_SQL, {
        "sum_qty": "DOUBLE", "sum_base": "DOUBLE", "sum_disc": "DOUBLE",
        "sum_charge": "DOUBLE", "avg_qty": "DOUBLE", "avg_price": "DOUBLE",
    }),
    _q(q65_shipping_priority, Q65_SQL, {"revenue": "DOUBLE"}),
    _q(q66_salted_skew_agg, Q66_SQL, {"sum_value": "DOUBLE"}),
    _q(q68_json_map_explode, Q68_SQL),
    _q(q136_ann_recall, Q136_SQL),
    _q(q138_rolling_quantile_sketch, Q138_SQL),
    _q(q140_retention_cohorts, Q140_SQL),
    _q(q141_order_islands, Q141_SQL),
    _q(q142_event_transitions, Q142_SQL),
    _q(q143_day_hour_heatmap, Q143_SQL),
    _q(q144_global_nucleus_fill, Q144_SQL, {"q": "DOUBLE"}),
    _q(q145_scd2_from_cdc, Q145_SQL),
    _q(q146_bigram_lift, Q146_SQL),
    _q(q147_time_to_convert, Q147_SQL),
    _q(q148_mad_outliers, Q148_SQL),
    _q(q149_brand_skyline, Q149_SQL),
    # --- r11 window greens (CORRECTNESS_r11), in their window order
    _q(q268_ledger_contract, Q268_SQL),
    _q(q269_topk_truncation_band, Q269_SQL),
    _q(q270_bloom_point_prune, Q270_SQL),
    _q(q271_multibatch_erasure, Q271_SQL),
    _q(q272_bloomed_erasure, Q272_SQL),
    _q(q273_filegrain_erasure, Q273_SQL),
    _q(q274_compact_batch, Q274_SQL),
    _q(q275_streamed_bloom_chain, Q275_SQL),
    _q(q150_survivorship_merge, Q150_SQL),
    _q(q151_revenue_correlation, Q151_SQL),
    _q(q152_prefix_duplicates, Q152_SQL),
    _q(q153_lang_mismatch_audit, Q153_SQL),
    _q(q154_minhash_recall, Q154_SQL, {"jaccard": "DOUBLE"}),
    _q(q155_interleave_order, Q155_SQL),
    _q(q156_snapshot_diff, Q156_SQL),
    _q(q157_trimmed_mean, Q157_SQL),
    _q(q158_cluster_quality, Q158_SQL, {"min_jaccard": "DOUBLE"}),
    _q(q159_revenue_trend, Q159_SQL),
    _q(q160_column_profile, Q160_SQL),
    _q(q161_fk_integrity, Q161_SQL),
    _q(q162_association_rules, Q162_SQL),
    _q(q163_rfm_segments, Q163_SQL),
    _q(q164_numeric_drift, Q164_SQL),
    _q(q165_trend_residuals, Q165_SQL),
    _q(q166_order_backlog, Q166_SQL),
    _q(q167_gains_table, Q167_SQL),
    _q(q168_label_outliers, Q168_SQL),
    _q(q169_abc_classification, Q169_SQL),
    _q(q170_seasonal_backtest, Q170_SQL),
    _q(q171_duplicate_orders, Q171_SQL),
    _q(q172_decontaminate, Q172_SQL),
    _q(q173_quality_length_corr, Q173_SQL),
    _q(q174_crosslang_fingerprints, Q174_SQL),
    _q(q175_profile_drift, Q175_SQL),
    _q(q176_ab_experiment, Q176_SQL),
    _q(q177_time_weighted_value, Q177_SQL),
    _q(q178_entity_resolution, Q178_SQL),
    _q(q179_segment_confidence, Q179_SQL),
    _q(q180_new_vs_returning, Q180_SQL),
    _q(q181_sole_blame_supplier, Q181_SQL),
    _q(q182_quintile_migration, Q182_SQL),
    _q(q183_duplicate_linenumbers, Q183_SQL),
    _q(q184_weekday_seasonality, Q184_SQL),
    _q(q185_session_stats, Q185_SQL),
    _q(q186_supplier_hhi, Q186_SQL),
    _q(q187_revenue_gini, Q187_SQL),
    _q(q188_dedup_threshold_sweep, Q188_SQL),
    _q(q189_pps_systematic_sample, Q189_SQL),
    _q(q190_event_retention, Q190_SQL),
    _q(q191_funnel_summary, Q191_SQL),
    # --- r12 window greens (CORRECTNESS_r12), in their window order
    _q(q276_bloom_store_audit, Q276_SQL),
    _q(q277_erasure_crash_repair, Q277_SQL),
    _q(q278_bloom_autosize, Q278_SQL),
    _q(q279_multicol_bloomed_erasure, Q279_SQL),
    _q(q280_compaction_crash_chain, Q280_SQL),
    _q(q281_manifest_repair, Q281_SQL),
    _q(q192_dead_stock, Q192_SQL),
    _q(q193_token_weighted_median, Q193_SQL),
    _q(q194_embedding_drift, Q194_SQL),
    _q(q243_tier_disagreement, Q243_SQL),
    _q(q88_copurchase_triangles, Q88_SQL),
    _q(q123_quota_sample, Q123_SQL),
    _q(q134_training_recipe, Q134_SQL),
    _q(q08_rolling_30row, Q08_SQL, {"rolling_rev": "DOUBLE"}),
    _q(q195_benford_audit, Q195_SQL),
    _q(q196_revenue_anomaly_mad, Q196_SQL),
    _q(q197_keyword_search, Q197_SQL),
    _q(q198_bucket_skew_audit, Q198_SQL),
    _q(q199_reconciliation_audit, Q199_SQL),
    _q(q200_release_readiness, Q200_SQL),
    _q(q201_double_billing_exposure, Q201_SQL),
    _q(q202_ensemble_neardup, Q202_SQL),
    _q(q203_contingency_residuals, Q203_SQL),
    _q(q204_fiscal_calendar, Q204_SQL),
    _q(q205_touch_attribution, Q205_SQL),
    _q(q206_knn_label_accuracy, Q206_SQL),
    _q(q207_session_concurrency, Q207_SQL),
    _q(q208_cusum_changepoint, Q208_SQL),
    _q(q209_xyz_volatility, Q209_SQL),
    _q(q210_quantile_normalize, Q210_SQL),
    _q(q211_frequent_triples, Q211_SQL),
    _q(q212_price_volume_bridge, Q212_SQL),
    _q(q213_unknown_member_repair, Q213_SQL),
    _q(q214_weighted_jaccard, Q214_SQL, {"w_jaccard": "DOUBLE"}),
    _q(q215_rebalance_plan, Q215_SQL),
    _q(q216_stats_merge_audit, Q216_SQL),
    _q(q217_stratified_kfold, Q217_SQL),
    _q(q218_equidepth_histogram, Q218_SQL),
    _q(q219_user_lifecycle, Q219_SQL),
    _q(q221_backfill_restatement, Q221_SQL),
    _q(q222_dedup_cost_model, Q222_SQL),
    _q(q223_sla_attainment, Q223_SQL),
    _q(q224_basket_diversity, Q224_SQL),
    _q(q225_discount_elasticity, Q225_SQL),
    _q(q226_cohort_ltv, Q226_SQL),
    _q(q227_session_paths, Q227_SQL),
    _q(q228_revenue_decomposition, Q228_SQL),
    _q(q229_lang_confusion, Q229_SQL),
    _q(q230_share_matrix, Q230_SQL),
    _q(q231_hhi_trend, Q231_SQL),
    # --- displaced r13 window (CORRECTNESS_r13), in its window order
    _q(q282_bloom_store_repair, Q282_SQL),
    _q(q283_noop_resume_retirement, Q283_SQL),
    _q(q284_wholetable_crash_repair, Q284_SQL),
    _q(q285_journaled_store_reconciliation, Q285_SQL),
    _q(q286_compaction_marker_repair, Q286_SQL),
    _q(q232_tokenizer_fertility, Q232_SQL),
    _q(q233_review_queue, Q233_SQL),
    _q(q234_gate_ablation, Q234_SQL),
    _q(q236_reorder_survival, Q236_SQL),
    _q(q237_vocab_growth, Q237_SQL),
    _q(q238_fd_audit, Q238_SQL),
    _q(q239_lsh_param_planner, Q239_SQL),
    _q(q240_margin_sample, Q240_SQL),
    _q(q241_join_cost_audit, Q241_SQL),
    _q(q242_seasonal_decomposition, Q242_SQL),
    _q(q244_discount_cap_whatif, Q244_SQL),
    _q(q245_order_fill_rate, Q245_SQL),
    _q(q246_acquisition_curve, Q246_SQL),
    _q(q247_top_customer_share, Q247_SQL),
    _q(q248_charset_audit, Q248_SQL),
    _q(q249_lead_time_stats, Q249_SQL),
    _q(q250_unbilled_orders, Q250_SQL),
    _q(q103_temperature_mix, Q103_SQL),
    _q(q124_epoch_plan, Q124_SQL),
    _q(q139_epoch_execute, Q139_SQL),
    _q(q01_typed_staging, Q01_SQL, {"acctbal": "DOUBLE"}),
    _q(q02_date_dim, Q02_SQL),
    _q(q10_customer_cohort, Q10_SQL),
    _q(q11_suspicious_discounts, Q11_SQL, {"discount": "DOUBLE", "margin": "DOUBLE"}),
    _q(q12_qa_load_issues, Q12_SQL),
    _q(q13_geo_dim, Q13_SQL),
    _q(q14_scd2_first_load, Q14_SQL),
    _q(q16_semi_join_active, Q16_SQL),
    _q(q18_nullsafe_geo_lookup, Q18_SQL),
    _q(q19_exact_dedup, Q19_SQL),
    _q(q21_lang_id, Q21_SQL),
    _q(q23_token_stats, Q23_SQL),
    _q(q24_doc_fingerprint, Q24_SQL),
    _q(q35_approx_distinct, Q35_SQL),
    _q(q36_order_cadence, Q36_SQL),
    _q(q39_messy_line_repair, Q39_SQL),
    _q(q40_rolling_hash, Q40_SQL),
    _q(q41_copurchase_pairs, Q41_SQL),
    _q(q43_fuzzy_part_names, Q43_SQL),
    _q(q44_set_ops_active_customers, Q44_SQL),
    _q(q70_contamination_check, Q70_SQL, {"contamination": "DOUBLE"}),
    _q(q71_doc_repetition, Q71_SQL, {
        "dup_tri_frac": "DOUBLE", "top_bi_frac": "DOUBLE",
    }),
    _q(q73_pii_redaction, Q73_SQL),
    _q(q74_embedding_quant, Q74_SQL),
    _q(q75_sequence_pack, Q75_SQL),
    # --- rows-only tail (the reason per query is in COVERAGE.md)
    _q(q102_video_frame_sample),
    _q(q108_incremental_minhash_dedup),
    _q(q114_bpe_merges),
    _q(q127_bpe_encode),
    _q(q135_audio_features),
    _q(q38_curate_corpus),
    _q(q67_multimodal_features),
    _q(q220_pq_ann),
    _q(q235_ivf_pq_ann),
    _q(q27_simhash_buckets),
    _q(q28_knn_ivf),
)

# apply the canonical output boundary to every query and oracle (see the
# "canonical output boundary" block above)
QUERIES: dict[str, _QueryFn] = {fn.__name__: _canon_query(fn) for fn, _, _ in _REGISTRY}
ORACLES: dict[str, str] = {
    fn.__name__: _canon_sql(sql, casts) if casts else sql
    for fn, sql, casts in _REGISTRY
    if sql is not None
}
