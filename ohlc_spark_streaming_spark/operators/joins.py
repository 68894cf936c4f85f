"""Join operators (SURVEY.md §2.3).

The reference has no joins; this is the engine's relational extension. All
standard joins are thin wrappers over built-ins (Catalyst picks
broadcast/sort-merge/shuffled-hash; ``equi_join`` can pin a broadcast).
The one join needing real design work is the **as-of join** — Spark has
no primitive for it, and the naive theta-join (``l.ts >= r.ts`` + max)
explodes to O(|L|·|R|) per key. We implement the union+window formulation,
which scales:

1. union LEFT (probe) and RIGHT (reference) rows on (key, ts) with a side
   marker, RIGHT sorting before LEFT at equal timestamps (inclusive match);
2. one window pass per key ordered by (ts, side):
   ``last(right_payload, ignorenulls)`` carries the most recent RIGHT
   payload forward to each LEFT row;
3. keep LEFT rows; unpack the payload.

Cost: a single shuffle of |L|+|R| rows on the key — the same price as an
equi-join — with O(1) state per row in the sort. No range explosion, no
skew amplification beyond the key's own volume; at 100 TB this is the only
formulation that survives hot keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Standard equi-join; ``broadcast_right`` pins the small-dim strategy."""
    return left.join(F.broadcast(right) if broadcast_right else right, on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS: rows of ``left`` with at least one match in ``right``."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS: rows of ``left`` with no match in ``right``."""
    return left.join(right, on, "left_anti")


def range_join(
    left: DataFrame, right: DataFrame, equi_on: Column, range_cond: Column
) -> DataFrame:
    """Equi + band predicate join (e.g. timestamps within an interval).

    The equi key keeps it a hash/sort-merge join — the band predicate is a
    post-join filter, not a nested loop."""
    return left.join(right, equi_on & range_cond)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    how: str = "left",
    payload_prefix: str = "asof_",
    direction: str = "backward",
    tolerance=None,
) -> DataFrame:
    """As-of (inclusive) join: for each LEFT row, the nearest RIGHT row per
    key — ``backward`` (default) picks the most recent RIGHT row with
    ``right_ts <= left_ts``, ``forward`` the earliest with
    ``right_ts >= left_ts``, ``nearest`` whichever of the two is closer
    in absolute time (exact tie → backward, pandas-style); among RIGHT
    rows tied on (key, ts), the one with the lexicographically greatest
    payload struct (deterministic under any partitioning).

    ``tolerance`` (an interval Column, e.g. ``F.expr("INTERVAL 10
    MINUTES")``) bounds the match distance: a matched RIGHT row further
    than the tolerance from ``left_ts`` is nulled out (and dropped under
    ``how='inner'``) — pandas ``merge_asof(tolerance=...)`` semantics.

    Returns all LEFT columns plus ``{payload_prefix}{col}`` for each
    ``right_payload`` column (and ``{payload_prefix}ts`` for the matched
    right timestamp); unmatched LEFT rows keep nulls (``how='left'``) or are
    dropped (``how='inner'``).

    Scale: ONE hash exchange on the key (union both sides, running
    ``last(payload, ignorenulls)`` over a (key, ts)-sorted window) — no
    range join, no per-key collect. All three directions share the single
    exchange: forward reverses the sort; nearest runs BOTH window passes
    over the same partitioning (the second WindowExec only re-sorts
    locally, no new shuffle) and picks per-row.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join supports how='left'|'inner', got {how!r}")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "asof_join supports direction='backward'|'forward'|'nearest',"
            f" got {direction!r}"
        )

    l_cols = left.columns
    payload = F.struct(
        F.col(right_ts).alias("ts"), *[F.col(c).alias(c) for c in right_payload]
    )
    r = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),  # right sorts first at equal ts → inclusive
        payload.alias("_payload"),
    )
    l = left.select(
        *[F.col(k) for k in on],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.struct(*[F.col(c) for c in l_cols]).alias("_lrow"),
    )
    merged = r.unionByName(l, allowMissingColumns=True)

    # _payload in the sort order makes ties among RIGHT rows with equal
    # (key, ts) deterministic: the lexicographically greatest payload wins
    # (struct ordering; left rows are unaffected — their _side sorts last
    # at any timestamp and their payload is null). Forward direction
    # reverses the ts sort, so the running last-seen RIGHT payload at a
    # LEFT row is the earliest right_ts >= left_ts.
    def running_match(ts_order):
        w = (
            Window.partitionBy(*on)
            .orderBy(ts_order, F.col("_side").asc(), F.col("_payload").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("_payload", ignorenulls=True).over(w)

    def clip(match, side: str):
        if tolerance is None:
            return match
        m_ts = match.getField("ts")
        in_tol = (
            m_ts >= F.col("_ts") - tolerance
            if side == "backward"
            else m_ts <= F.col("_ts") + tolerance
        )
        return F.when(in_tol, match)

    if direction == "nearest":
        # Both passes share the hash exchange: the second window has the
        # same partitioning and only adds a per-partition re-sort.
        back = clip(running_match(F.col("_ts").asc()), "backward")
        fwd = clip(running_match(F.col("_ts").desc()), "forward")
        matched = (
            merged.withColumn("_mb", back)
            .withColumn("_mf", fwd)
            .where(F.col("_side") == 1)
        )
        d_back = F.col("_ts") - F.col("_mb").getField("ts")
        d_fwd = F.col("_mf").getField("ts") - F.col("_ts")
        pick = (
            F.when(F.col("_mb").isNull(), F.col("_mf"))
            .when(F.col("_mf").isNull(), F.col("_mb"))
            # exact-distance tie prefers backward (<=)
            .when(d_back <= d_fwd, F.col("_mb"))
            .otherwise(F.col("_mf"))
        )
        matched = matched.withColumn("_match", pick)
    else:
        ts_order = (
            F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
        )
        matched = (
            merged.withColumn("_match", running_match(ts_order))
            .where(F.col("_side") == 1)
            .withColumn("_match", clip(F.col("_match"), direction))
        )
    if how == "inner":
        matched = matched.where(F.col("_match").isNotNull())
    out_cols = [F.col("_lrow").getField(c).alias(c) for c in l_cols]
    out_cols.append(F.col("_match").getField("ts").alias(f"{payload_prefix}ts"))
    out_cols.extend(
        F.col("_match").getField(c).alias(f"{payload_prefix}{c}")
        for c in right_payload
    )
    return matched.select(*out_cols)


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    how: str = "left",
    payload_prefix: str = "asof_",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """:func:`asof_join` for HOT keys: identical semantics, window
    partitions bounded by (key, time bucket) instead of key.

    Why: the plain as-of is one window over ``partitionBy(key)``, so a
    key with 100× the rows makes one 100×-sized window partition — and
    AQE cannot help (its skew optimization splits oversized SORT-MERGE
    JOIN partitions; window partitions are never split because each must
    see all its rows). The scale fix is structural: partition by
    (key, floor(ts / bucket)) so a hot key spreads over its time range.

    Mechanics: per (key, bucket), an intra-bucket window finds the most
    recent right row ≤ each left ts; a per-bucket summary (``max`` of the
    (ts, payload) struct — exactly the tie rule of :func:`asof_join`)
    rolls forward across buckets with an exclusive running max to give
    each bucket its carry-in; the result is ``coalesce(intra, carry)``.
    The carry table is rows = distinct (key, bucket) — tiny — and its
    join back is a plain equi-join AQE can split if even (key, bucket)
    skews. Pick ``bucket_seconds`` so one bucket of the hottest key fits
    an executor partition (at 100 TB: minutes for tick data).
    """
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join_bucketed supports how='left'|'inner', got {how!r}")

    l_cols = left.columns
    payload = F.struct(
        F.col(right_ts).alias("ts"), *[F.col(c).alias(c) for c in right_payload]
    )

    def bkt(ts_col: str):
        return F.floor(
            F.unix_seconds(F.col(ts_col).cast("timestamp")) / F.lit(bucket_seconds)
        )

    r = right.select(
        *[F.col(k) for k in on],
        bkt(right_ts).alias("_bkt"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        payload.alias("_payload"),
    )
    l = left.select(
        *[F.col(k) for k in on],
        bkt(left_ts).alias("_bkt"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.struct(*[F.col(c) for c in l_cols]).alias("_lrow"),
    )
    merged = r.unionByName(l, allowMissingColumns=True)

    w_intra = (
        Window.partitionBy(*on, "_bkt")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_payload").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = merged.withColumn(
        "_intra", F.last("_payload", ignorenulls=True).over(w_intra)
    ).where(F.col("_side") == 1)

    # Exclusive running max over per-bucket summaries: each (key, bucket)
    # learns the greatest (ts, payload) from STRICTLY earlier buckets.
    summary = r.groupBy(*on, "_bkt").agg(F.max("_payload").alias("_mx"))
    universe = merged.select(*on, "_bkt").distinct()
    w_carry = (
        Window.partitionBy(*on)
        .orderBy(F.col("_bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        universe.join(summary, [*on, "_bkt"], "left")
        .withColumn("_carry", F.max("_mx").over(w_carry))
        .select(*on, "_bkt", "_carry")
    )

    matched = intra.join(carry, [*on, "_bkt"], "left").withColumn(
        "_match", F.coalesce("_intra", "_carry")
    )
    if how == "inner":
        matched = matched.where(F.col("_match").isNotNull())
    out_cols = [F.col("_lrow").getField(c).alias(c) for c in l_cols]
    out_cols.append(F.col("_match").getField("ts").alias(f"{payload_prefix}ts"))
    out_cols.extend(
        F.col("_match").getField(c).alias(f"{payload_prefix}{c}")
        for c in right_payload
    )
    return matched.select(*out_cols)
