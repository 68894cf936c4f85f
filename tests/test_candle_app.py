"""The deployed candle app (streaming/app.py): state-store sizing and a
restart from its checkpoint."""

from __future__ import annotations

import json
import os
import random
import time

import pytest
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.operators.ohlc import ohlc_candles
from ohlc_spark_streaming_spark.operators.trades import trades_from_wire
from ohlc_spark_streaming_spark.queries.reference import _wire_trades
from ohlc_spark_streaming_spark.sources.stream import events_stream
from ohlc_spark_streaming_spark.streaming.app import build_app
from ohlc_spark_streaming_spark.streaming.candles import stream_state_partitions
from ohlc_spark_streaming_spark.streaming.checkpoints import CheckpointManager

from .conftest import SF_SMOKE

WIRE_SCHEMA = "topic string, value string"
CANDLE_SCHEMA = (
    "base string, start_ts timestamp_ntz, end_ts timestamp_ntz, open double,"
    " high double, low double, close double, volume double"
)


def _state_stores(query) -> int:
    return query.lastProgress["stateOperators"][0]["numShufflePartitions"]


@pytest.mark.parametrize(
    "cores, stores",
    [(1, 1), (2, 1), (3, 1), (4, 2), (6, 3), (8, 4), (32, 4), (64, 8), (1000, 125)],
)
def test_stream_state_partitions_rule(monkeypatch, cores, stores):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cores))
    assert stream_state_partitions() == stores


def test_candle_app_runs_two_stores_at_4_cores(monkeypatch, tmp_path, spark):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    app = build_app(
        _wire_trades(events_stream(spark, SF_SMOKE)),
        CheckpointManager(str(tmp_path / "ckpts")),
        with_taps=False,
        available_now=True,
    )
    app.candle_query.awaitTermination()
    assert _state_stores(app.candle_query) == 2


def _write_tape_files(tape_dir: str, first: int, files: list[list[str]]) -> None:
    """One JSON-lines wire file per micro-batch, with increasing mtimes so
    the file source reads them in order."""
    now = time.time()
    for i, lines in enumerate(files, start=first):
        path = os.path.join(tape_dir, f"part-{i:03d}.json")
        with open(path, "w") as f:
            f.write("".join(line + "\n" for line in lines))
        os.utime(path, (now + i, now + i))


def _wire_tape(n_files: int, trades_per_file: int, seed: int = 7) -> list[list[str]]:
    """Trades in event-time order, 30 s per file, so 1-minute windows span
    files; epoch-second ties, 1/16 quantities (exact sums), a fallback
    topic every 5th trade and one malformed line per file."""
    rng = random.Random(seed)
    t0 = 1_700_000_040
    files = []
    for k in range(n_files):
        lines = ['{"topic": "parsed-trades-btc-usdt", "value": "{not json"}']
        for j in range(trades_per_file):
            base = rng.choice(["btc", "eth", "sol"])
            topic = f"raw-{base}" if j % 5 == 0 else f"parsed-trades-{base}-usdt"
            value = json.dumps(
                {
                    "from_symbol": base.upper(),
                    "to_symbol": "USDT",
                    "timestamp": str(t0 + k * 30 + j * 30 // trades_per_file),
                    "price": f"{rng.randint(9000, 11000) / 100:.2f}",
                    "quantity": str(rng.randint(1, 64) / 16),
                }
            )
            lines.append(json.dumps({"topic": topic, "value": value}))
        files.append(lines)
    return files


def test_candle_app_restart_keeps_checkpointed_stores(monkeypatch, tmp_path, spark):
    """Stop the candle app half way through a tape and restart it from the
    same checkpoint under a different core count: the query keeps the
    state-store count it was started with, reads only the new files, and
    the final candle per (base, start_ts) equals the batch candles over
    every admitted trade, so no trade is lost or counted twice."""
    tape = str(tmp_path / "tape")
    os.makedirs(tape)
    files = _wire_tape(n_files=6, trades_per_file=40)
    checkpoints = CheckpointManager(str(tmp_path / "ckpts"))
    emitted: list[tuple] = []

    def collect(batch_df, batch_id):
        parsed = batch_df.select(F.from_json("value", CANDLE_SCHEMA).alias("c"))
        emitted.extend(tuple(r) for r in parsed.select("c.*").collect())

    def run(cores: int):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cores))
        wire = (
            spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(tape)
        )
        query = build_app(
            wire, checkpoints, with_taps=False, sink_format=collect, available_now=True
        ).candle_query
        query.awaitTermination()
        return query

    _write_tape_files(tape, 0, files[:3])
    assert _state_stores(run(cores=32)) == 4

    _write_tape_files(tape, 3, files[3:])
    restarted = run(cores=4)
    assert _state_stores(restarted) == 4
    progress = restarted.recentProgress
    assert sum(p["numInputRows"] for p in progress) == sum(map(len, files[3:]))
    assert all(
        op["numRowsDroppedByWatermark"] == 0
        for p in progress
        for op in p["stateOperators"]
    )

    # Update mode re-emits a candle whenever it gains trades, so the final
    # one carries the largest volume.
    final: dict[tuple, tuple] = {}
    for row in emitted:
        key = row[:2]
        if key not in final or row[-1] > final[key][-1]:
            final[key] = row
    trades = trades_from_wire(spark.read.schema(WIRE_SCHEMA).json(tape))
    batch = ohlc_candles(
        trades,
        ts_col="timestamp",
        symbol_col="base",
        price_col="price",
        qty_col="quantity",
        window_duration="1 minute",
    ).select(
        "symbol", "window_start", "window_end", "open", "high", "low", "close",
        "volume",
    )
    want = {tuple(r)[:2]: tuple(r) for r in batch.collect()}
    assert len(want) > 3
    assert final == want
