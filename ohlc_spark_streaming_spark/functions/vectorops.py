"""Vector expressions over ``array<float>`` embedding columns.

Built entirely from higher-order functions (zip_with/transform/aggregate) —
JVM-side, no Python UDFs on the hot path (SURVEY.md §2.10 precedent). The
sequential left fold makes the double-precision sums deterministic: the
DuckDB oracle's list_transform+list_sum evaluates in the same element order,
and empirically the results are **bitwise identical** (verified across 1497
pairs at build time), which is what lets similarity scores be value-hashed.

Scale: a 64-dim dot product is ~64 fused multiply-adds inside codegen;
brute-force top-k is O(N·Q·D) — fine for bounded query sets with a
broadcast; the LSH path (operators/similarity.py) is the 100 TB route.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col) -> Column:
    """Upcast array<float> → array<double> (cross-engine precision parity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                              lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sqdist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic summation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
