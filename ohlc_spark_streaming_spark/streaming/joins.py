"""Stream-stream interval join (SURVEY.md §2.3 / §2.9 — not in the
reference; the canonical Structured Streaming two-stream pattern).

An inner join between two watermarked streams with an event-time band
predicate: each left row matches right rows whose timestamp falls within
``[left_ts - lookback, left_ts]``. The time bound plus the two watermarks
is what lets Spark evict join state — without it a stream-stream join
buffers both sides forever. At 100 TB this is the difference between a
join whose state is ``O(rate x (lookback + watermark))`` and one that OOMs.

Batch twin: the same band predicate as a plain theta join (DuckDB oracle
replays it verbatim), so inner-join results are exactly comparable —
inner stream-stream joins emit every match once, watermarks affecting only
state eviction and not (bounded-replay) completeness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Inner-join ``left`` rows to ``right`` rows of the same ``key`` with
    ``right_ts`` in ``[left_ts - lookback, left_ts]`` (inclusive bounds).

    Works identically for batch and streaming inputs; streaming inputs get
    watermarks (required for state cleanup). Column names of the two sides
    must already be disjoint apart from ``key``.
    """
    return _interval_join(left, right, key, left_ts, right_ts, lookback, watermark, "inner")


def _interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str,
    watermark: str,
    how: str,
) -> DataFrame:
    """The band join every variant shares: watermark streaming sides,
    then join ``how`` on ``key`` with ``right_ts`` in
    ``[left_ts - lookback, left_ts]``."""
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    lk, rk = F.col(f"l.{key}"), F.col(f"r.{key}")
    cond = (
        (lk == rk)
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}")
        )
    )
    joined = left.alias("l").join(right.alias("r"), cond, how)
    if how != "fullOuter":
        return joined.drop(rk)
    # Right-unmatched rows have a NULL left key, so the full-outer key is
    # coalesce(l.key, r.key) rather than the left key alone.
    lcols = [F.col(f"l.{c}") for c in left.columns if c != key]
    rcols = [F.col(f"r.{c}") for c in right.columns if c != key]
    return joined.select(F.coalesce(lk, rk).alias(key), *lcols, *rcols)


def interval_join_full_outer(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """FULL OUTER stream-stream interval join: matched pairs plus
    unmatched rows from BOTH sides (the other side's columns null) —
    the reconciliation shape ("every purchase and every view, paired
    where a pairing exists"). Spark's join state machine supports
    native fullOuter for stream-stream (since 3.1): each side's
    unmatched rows are emitted once the OTHER side's watermark proves
    no in-band partner can still arrive — the band condition bounds
    both directions (``right_ts ∈ [left_ts - lookback, left_ts]`` ⇔
    ``left_ts ∈ [right_ts, right_ts + lookback]``), so state on both
    sides stays ``O(rate × (lookback + watermark))``.

    The output ``key`` is ``coalesce(l.key, r.key)``: right-unmatched
    rows have a NULL left key. Bounded replays needing the COMPLETE
    answer must close the tape with watermark-advancing sentinels on
    both sides (see q_streaming_full_outer_join)."""
    return _interval_join(
        left, right, key, left_ts, right_ts, lookback, watermark, "fullOuter"
    )


def interval_join_left_semi(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT SEMI stream-stream interval join: left rows with AT LEAST ONE
    in-band right match, emitted exactly once with left columns only — the
    streaming existence filter ("purchases preceded by a view") that an
    inner join would fan out per match and a downstream distinct would pay
    an extra stateful aggregation for. Same banded state-eviction story as
    :func:`interval_join`; with the anti and full-outer variants it
    completes the family (inner / semi / anti / full outer)."""
    return _interval_join(
        left, right, key, left_ts, right_ts, lookback, watermark, "left_semi"
    )


def interval_join_left_anti(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT ANTI stream-stream interval join: left rows with NO in-band
    right match, left columns only — the streaming complement of
    :func:`interval_join_left_semi` (dedup and late-enrichment pipelines:
    "purchases with no preceding view"). Spark's streaming join state
    machine accepts inner/outer/semi but NOT anti (probed on 4.1.2 —
    pinned in tests/test_streaming.py), so this composes the SAME state
    machine: left-outer plus a non-null probe column on the right, then
    keep only null-probe rows. Emissions carry the identical watermark
    proof an outer null-match does — a left row is released only once
    the watermark shows no in-band right row can still arrive, so state
    stays ``O(rate × (lookback + watermark))``. Bounded replays that
    need the COMPLETE answer must close the tape with a
    watermark-advancing sentinel (see q_streaming_anti_join)."""
    probe = "__anti_probe__"
    out_cols = list(left.columns)
    j = _interval_join(
        left,
        right.withColumn(probe, F.lit(1)),
        key,
        left_ts,
        right_ts,
        lookback,
        watermark,
        "leftOuter",
    )
    return j.where(F.col(probe).isNull()).select(*out_cols)
