"""Vector math over ``array<float>`` columns.

Covers the reference's pgvector surface (cosine distance top-k,
crawled_pages.sql:49-61) as pure Catalyst expressions (zip_with +
aggregate) that stay in whole-stage codegen, inside filters and joins too.
They compute in float64; oracle comparisons round to 4dp.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def vector_lit(values, elem_type: str = "double") -> Column:
    """A constant vector as ONE expression: a JSON literal that
    ``from_json`` parses into ``array<elem_type>``, instead of one
    ``F.lit`` per component. Catalyst analyses every expression of a plan
    on every query, and a 1 536-component array of literals cost more than
    the scan it fed. Doubles travel as their shortest round-trip repr, so
    the parsed values equal the per-component literals exactly."""
    cast = float if elem_type == "double" else int
    return F.from_json(F.lit(json.dumps([cast(x) for x in values])), f"array<{elem_type}>")


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
