"""Count–min sketch over a token stream (Cormode & Muthukrishnan 2005 —
public algorithm; SURVEY.md §2.11 sketch family).

A CMS is a depth×width counter grid: each occurrence increments one
counter per row (bucket = row-specific hash of the key); a key's estimate
is the MIN of its depth counters — an overestimate, never an under-
estimate, with error ≤ ε·N at width = e/ε. The grid is tiny and
MERGEABLE (cell-wise addition), which is the 100 TB story: partial grids
combine associatively in a partial→final aggregation, and the sketch
size is independent of both cardinality and volume.

Like every sketch in this engine, the hashing is cross-engine modular
arithmetic, so the whole construction — grid AND estimates — is exactly
replayable by the DuckDB oracle (queries/llm.py:cms_token_counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_A, MINHASH_B, P

CMS_DEPTH = 4
CMS_WIDTH = 1024
#: Row-hash constants (reuse the public MinHash family, one pair per row).
CMS_A = MINHASH_A[:CMS_DEPTH]
CMS_B = MINHASH_B[:CMS_DEPTH]


def cms_bucket(row: int, key_hash: Column) -> Column:
    """Bucket of ``key_hash`` in sketch row ``row``."""
    return ((F.lit(CMS_A[row]) * key_hash + F.lit(CMS_B[row])) % P) % CMS_WIDTH


def cms_bucket_sql(row: int, expr: str) -> str:
    """DuckDB twin of :func:`cms_bucket`."""
    return f"(({CMS_A[row]} * {expr} + {CMS_B[row]}) % {P}) % {CMS_WIDTH}"


def cms_counters(occurrences: DataFrame, hash_col: str = "kh") -> DataFrame:
    """Build the counter grid from a (…, key-hash) occurrence stream:
    one row per (sketch row, bucket) with its count. One explode (×depth)
    and one shuffle on (row, bucket) — the partial aggregation below the
    shuffle is exactly the per-partition sketch merge."""
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("r"), cms_bucket(j, F.col(hash_col)).alias("b")
                )
                for j in range(CMS_DEPTH)
            ]
        )
    ).alias("rb")
    return (
        occurrences.select(rows)
        .select(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimates(
    keys: DataFrame, counters: DataFrame, hash_col: str = "kh"
) -> DataFrame:
    """Point-estimate every key in ``keys``: min over the depth counters.

    The counter grid is ≤ depth·width rows by construction, so it is
    always broadcast — estimation is a narrow map over the keys."""
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("r"),
                        cms_bucket(j, F.col(hash_col)).alias("b"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("*", F.col("rb.r").alias("r"), F.col("rb.b").alias("b")).drop("rb")
    key_cols = [c for c in keys.columns]
    return (
        probes.join(F.broadcast(counters), ["r", "b"])
        .groupBy(*key_cols)
        .agg(F.min("c").alias("cms_count"))
    )


# --- Bloom filter (Bloom 1970 — public algorithm) ----------------------------

#: Bloom geometry: m bits; k = 5 hash rows, one per (BLOOM_A, BLOOM_B)
#: pair. Declared constants — the audit query reports the resulting FP
#: rate rather than assuming one; a production build sizes m ∝ expected
#: build-side cardinality.
BLOOM_M = 16384
#: k modular hash pairs (the MinHash family extended by one public pair).
BLOOM_A = (*MINHASH_A[:4], 21001)
BLOOM_B = (*MINHASH_B[:4], 6007)


def bloom_positions(key: Column) -> Column:
    """The (distinct) bit positions key sets/probes: k modular hashes in
    [0, m). ``key % P`` first keeps every product inside exact int64 at
    any bigint key magnitude (the operators/spatial.py overflow rule)."""
    kh = key.cast("long") % P
    return F.array_distinct(
        F.array(
            *[
                ((F.lit(a) * kh + F.lit(b)) % P) % BLOOM_M
                for a, b in zip(BLOOM_A, BLOOM_B)
            ]
        )
    )


def bloom_positions_sql(expr: str) -> str:
    """DuckDB twin of :func:`bloom_positions` (same hashes, same order)."""
    terms = ", ".join(
        f"(({a} * ({expr} % {P}) + {b}) % {P}) % {BLOOM_M}"
        for a, b in zip(BLOOM_A, BLOOM_B)
    )
    return f"list_distinct([{terms}])"
