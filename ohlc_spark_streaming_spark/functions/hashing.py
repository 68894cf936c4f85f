"""Deterministic, cross-engine hashing primitives.

Engine-native hashes (Spark xxhash64 / DuckDB hash) differ by
implementation, so every hash that participates in oracle-checked results
is plain modular integer arithmetic both engines compute identically:

* token/rolling hash: left fold ``acc = (acc*31 + codepoint) mod P`` over
  the string's characters (polynomial rolling hash),
* MinHash family: ``h_i(x) = (a_i·x + b_i) mod P`` over token hashes,
* SimHash: per-bit vote sums over token hashes.

All arithmetic stays within int64: P ≈ 1e9, multipliers < 3e4, so products
stay < 3e13 ≪ 2^63. The DuckDB twins of these expressions are built by
``*_sql`` helpers so both dialects share one source of constants.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for all rolling/minhash arithmetic (prime, fits comfortably in i64).
P = 1_000_000_007

#: MinHash linear-function constants (k = 8 hash functions → 4 bands × 2).
MINHASH_A = (2971, 6011, 9203, 12289, 15013, 18097, 21001, 24007)
MINHASH_B = (577, 1009, 2003, 3001, 4001, 5003, 6007, 7013)
N_BANDS = 4
BAND_ROWS = 2  # len(MINHASH_A) == N_BANDS * BAND_ROWS

SIMHASH_BITS = 28  # shingle hashes live below P ≈ 2^30


def rolling_hash(col) -> Column:
    """Polynomial rolling hash of a string column (char-code left fold)."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % P,
    )


def rolling_hash_sql(expr: str) -> str:
    """DuckDB twin of :func:`rolling_hash` (list_reduce needs a seeded
    first element, hence the prepended 0)."""
    # The accumulator is seeded with a BIGINT 0 so DuckDB folds in 64-bit
    # (ascii() alone is INT32 and acc*31 would overflow mid-fold).
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc*31 + c) % {P})"
    )


def minhash_sql(token_hash_expr: str) -> list[str]:
    return [
        f"min(({a} * {token_hash_expr} + {b}) % {P})"
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


def band_key(h_lo: Column, h_hi: Column) -> Column:
    """Combine a band's signature rows into one bucket key."""
    return (h_lo * 31 + h_hi) % P


def band_key_sql(lo: str, hi: str) -> str:
    return f"(({lo}) * 31 + ({hi})) % {P}"
