"""Vector math over array<float|double> columns — built-in higher-order
functions only (``zip_with`` + ``aggregate``), evaluated JVM-side so the
hot path of similarity search never crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either norm is 0 (division guard)."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def squared_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

