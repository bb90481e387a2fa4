"""Vector math over ``array<float>`` columns.

Covers the reference's pgvector surface (cosine distance top-k,
crawled_pages.sql:49-61) as pure Catalyst expressions (zip_with +
aggregate) that stay in whole-stage codegen, inside filters and joins too.
They compute in float64; oracle comparisons round to 4dp.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity as a Catalyst expression (1 - pgvector's ``<=>``,
    reference crawled_pages.sql:57)."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))
