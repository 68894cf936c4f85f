"""Streaming OHLC candles — the reference's production query, generalized.

Reference (/root/reference/main.py:160-170): watermark (default 2 minutes)
+ tumbling window (default 1 minute) per base symbol, update output mode.

Our engine uses the same aggregate expressions as the batch twin
(operators.ohlc.ohlc_aggregates) so batch↔stream parity is by construction;
the efficient struct-min/max form keeps streaming state at O(1) per
(window, symbol) key — the reference's collect_list state is O(#trades) per
key, which is the single biggest obstacle to running this at 100 TB
(SURVEY.md §4.3).

Output modes (SURVEY §2.9 ST3):
* ``update``  — reference behavior: partial candles re-emitted every
  micro-batch as trades arrive; downstream keeps last per (window, base).
* ``append``  — emit-once-final: a candle appears only after the watermark
  passes its window end; trailing windows are withheld on a bounded replay.
* ``complete``— full result each trigger (bounded replays / tests only).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ohlc import ohlc_aggregates
from .checkpoints import stream_start

_drain_ids = itertools.count()


def streaming_ohlc_candles(
    stream: DataFrame,
    ts_col: str = "timestamp",
    symbol_col: str = "base",
    price_col: str = "price",
    qty_col: str | None = "quantity",
    window_duration: str = "1 minute",
    slide: str | None = None,
    watermark_delay: str = "2 minutes",
    mode: str = "efficient",
) -> DataFrame:
    """Watermarked tumbling- (or sliding-, when ``slide`` is set)
    window OHLCV aggregation over a stream."""
    window = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            window.alias("window"),
            F.col(symbol_col).alias("symbol"),
        )
        .agg(*ohlc_aggregates(ts_col, price_col, qty_col, mode))
        .select(
            # NTZ output for oracle/batch parity (event time itself must be
            # TIMESTAMP for the watermark; session TZ is pinned UTC).
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def stream_state_partitions() -> int:
    """Shuffle-partition count, and so state-store count, for stateful
    streaming queries: one store per 2 cores up to 4 stores, then one per
    8 cores (local[1] and local[2] get 1, local[4] 2, local[8] to
    local[32] 4, a 1000-core cluster 125).

    Each store writes one checkpoint delta file per micro-batch. Local
    checkpoints use the rename-based checkpoint file manager
    (:mod:`.checkpoints`), where a write costs a few milliseconds: the
    candle app's commit in 2 stores takes about 6 ms per batch. One task
    updates and emits all of a store's rows, so few stores serialize a
    batch that writes much state. At 4 cores, 1 / 2 / 4 stores took
    9.8 / 10.3 / 11.5 s on the candle replay benchmark and 1.19 / 1.01 /
    0.92 s on ``streaming_session_funnel`` (69k session rows in one
    batch). The count is fixed when the checkpoint is created, before the
    state size is known, so it cannot follow it. Counts from 8 cores up
    are the earlier ``max(4, cores // 8)``.

    Batch queries keep the full ``spark.sql.shuffle.partitions``, and a
    restarted query keeps the count its checkpoint was started with.
    """
    from ..session import default_parallelism

    cores = default_parallelism()
    return max(1, min(4, cores // 2), cores // 8)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    partitions: int | None = None,
) -> DataFrame:
    """Execute a (bounded) streaming DataFrame to completion into an
    in-memory table via availableNow, returning the result table.

    This is the test/oracle harness for streaming operators: availableNow
    processes all available input then stops, so the memory table holds the
    stream's final answer. Spark session must own the stream's source.
    The query and its table get a fresh name per call, so drains in one
    session never collide; callers use the returned table, not the name.

    The query starts under :func:`~.checkpoints.stream_start`, in
    :func:`stream_state_partitions` state stores unless ``partitions`` is
    given. Queries whose stateful stage runs PYTHON
    (applyInPandasWithState) should pass ``partitions`` near the core
    count: their cost is Python-worker parallelism, not the stores
    (measured: the stateful counter is 2x slower at 4 partitions than at
    16).
    """
    spark = stream_df.sparkSession
    table_name = f"drain_{next(_drain_ids)}"
    with stream_start(spark, None, partitions):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    query.awaitTermination()
    return spark.table(table_name)
