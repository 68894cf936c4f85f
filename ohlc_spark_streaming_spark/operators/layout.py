"""Data-layout operators: the Z-order (Morton) value for multi-dimensional
clustering (public technique: Morton codes / Z-order curves, used by every
lakehouse engine for file skipping).

A parquet scan prunes row groups by min/max statistics. Sorting by ONE
column gives perfect pruning on that column and none on others; sorting
by the Z-VALUE (bit-interleave of several columns) bounds every file to a
small hyper-rectangle of the key space, so range predicates on ANY of the
interleaved columns skip most files.

The Z-value is pure integer bit arithmetic — deterministic, and exactly
replayable by the DuckDB oracle (queries: zorder_bucket_counts).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

Z_BITS = 16  # 2 × 16 interleaved bits → z fits in int32 range × 4


def z_value(a: Column, b: Column, bits: int = Z_BITS) -> Column:
    """Morton code of two non-negative ints (low ``bits`` bits each):
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i + 1)
        )
    return z


def z_value_sql(a: str, b: str, bits: int = Z_BITS) -> str:
    """DuckDB twin of :func:`z_value` (same fold, same bit positions)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
