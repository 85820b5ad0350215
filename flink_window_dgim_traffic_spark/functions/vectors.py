"""Vector column math over ``array<float>`` embeddings.

Everything is built from JVM-side higher-order functions
(``zip_with`` / ``aggregate``) — no Python UDF in the hot path.  The
folds are **sequential left folds**, which makes the float arithmetic
deterministic and bit-identical to the DuckDB oracle's
``list_reduce`` twin in ``registry/sqlc.py`` (same op order, same
IEEE semantics).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column | str) -> Column:
    return F.col(v).cast("array<double>") if isinstance(v, str) else v.cast(
        "array<double>"
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))
