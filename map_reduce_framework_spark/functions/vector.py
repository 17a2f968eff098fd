"""Vector (array<float>) column expressions for the similarity operators.

All arithmetic is done JVM-side with higher-order functions
(zip_with/aggregate), casting float -> double *before* multiplying so the
left-to-right summation is bit-identical to DuckDB's list_dot_product on
DOUBLE[] -- which is what makes the cosine-similarity oracle exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cos(a, b) over pre-cast double arrays."""
    return dot(a, b) / (norm(a) * norm(b))
