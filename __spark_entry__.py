"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

A query whose registry entry (``plans/catalog_queries.py``) has no
oracle SQL is absent from ``oracle_sql()`` and gets a rows-only check:
it is approximate or not SQL-expressible by construction. COVERAGE.md
gives the reason per query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from superstore_data_pipeline_analytics_dashboard__spark.plans.catalog_queries import (
    ORACLES,
    QUERIES,
)

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Sales-by-brand rollup with grand total — the Spark re-expression of the
    reference's PivotTable1 "By Category" (SURVEY.md §2.4 A8). Uses the
    registry entry so the canonical output boundary (catalog_queries.py)
    applies here too."""
    return QUERIES["q05_sales_by_brand_rollup"](spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (keys match ``queries()``)."""
    return dict(ORACLES)
