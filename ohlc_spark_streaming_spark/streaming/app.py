"""The reference application, recomposed (/root/reference/main.py:70-221).

The reference's ``main()`` wires: Kafka source → parse → typed cast → base
derivation → watermarked 1-minute OHLCV per base → JSON candle rows routed
to per-symbol output topics, plus four console debug taps, five concurrent
queries total, blocking on any termination.

:func:`build_app` reproduces that topology against ANY source DataFrame
(Kafka in production, file stream in tests) with assertable sinks instead
of console prints, per-query checkpoint isolation (main.py:201-206), and
the engine's O(1)-state candle aggregation. The reference's physical
inefficiency — five independent source subscriptions (SURVEY §4.4) — is
kept OUT: taps share the one parsed stream, so the source is consumed
once per query only where Spark requires it.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.trades import serialize_candles, trades_from_wire
from .candles import streaming_ohlc_candles
from .checkpoints import CheckpointManager, stream_start


@dataclass
class TradeCandleApp:
    """Handles for the started queries."""

    candle_query: StreamingQuery
    tap_queries: list[StreamingQuery]

    def stop(self) -> None:
        for q in [self.candle_query, *self.tap_queries]:
            q.stop()


def build_app(
    wire: DataFrame,
    checkpoints: CheckpointManager,
    output_prefix: str = "candles-",
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    with_taps: bool = True,
    sink_format: str | Callable[[DataFrame, int], None] = "memory",
    available_now: bool = False,
    sink_options: Mapping[str, str] | None = None,
) -> TradeCandleApp:
    """Start the full candle application over a wire-format stream
    (columns: ``topic``, ``value``). Returns running query handles.

    ``sink_format='memory'`` makes every sink an assertable table
    (candles_out, tap_trades, tap_raw). A callable ``sink_format`` is a
    test hook: it becomes every query's ``foreachBatch`` function, so a
    test can stop the app and restart it from its checkpoint, which
    Spark refuses for the memory sink in update mode.
    ``sink_options`` are writer options for every query's sink: the
    deployment passes ``kafka.bootstrap.servers`` with
    ``sink_format='kafka'``. The memory and ``foreachBatch`` sinks need
    none.
    """
    trades = trades_from_wire(wire)
    trades_ts = trades.withColumn("timestamp", trades["timestamp"].cast("timestamp"))
    candles = streaming_ohlc_candles(
        trades_ts,
        ts_col="timestamp",
        symbol_col="base",
        price_col="price",
        qty_col="quantity",
        window_duration=window_duration,
        watermark_delay=watermark_delay,
    )
    out_rows = serialize_candles(candles, output_prefix)

    def _start(df: DataFrame, name: str, mode: str) -> StreamingQuery:
        w = (
            df.writeStream.queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoints.path_for(name))
            .options(**(sink_options or {}))
        )
        if callable(sink_format):
            w = w.foreachBatch(sink_format)
        else:
            w = w.format(sink_format)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    with stream_start(wire.sparkSession, checkpoints.root):
        candle_q = _start(out_rows, "candles_out", "update")
        taps: list[StreamingQuery] = []
        if with_taps:
            taps.append(_start(wire.select("topic", "value"), "tap_raw", "append"))
            taps.append(_start(trades, "tap_trades", "append"))
    return TradeCandleApp(candle_query=candle_q, tap_queries=taps)
