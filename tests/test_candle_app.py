"""The deployed candle app (streaming/app.py): state-store sizing, the
stream-start confs and checkpoint file manager, and restarts from its
checkpoint after a clean stop or a SIGKILL."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import random
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.operators.ohlc import ohlc_candles
from ohlc_spark_streaming_spark.operators.trades import trades_from_wire
from ohlc_spark_streaming_spark.queries.reference import _wire_trades
from ohlc_spark_streaming_spark.sources.stream import table_stream
from ohlc_spark_streaming_spark.streaming import checkpoints as ckpt
from ohlc_spark_streaming_spark.streaming.app import build_app
from ohlc_spark_streaming_spark.streaming.candles import (
    run_to_memory,
    stream_state_partitions,
)
from ohlc_spark_streaming_spark.streaming.checkpoints import (
    MANAGER_CONF,
    PARTITIONS_CONF,
    RENAME_MANAGER,
    CheckpointManager,
    is_local_checkpoint,
    stream_start,
)

from .conftest import SF_SMOKE

WIRE_SCHEMA = "topic string, value string"
CANDLE_JSON_SCHEMA = (
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


@pytest.mark.parametrize(
    "root, manager",
    [
        ("/tmp/x", RENAME_MANAGER),
        ("file:/tmp/x", RENAME_MANAGER),
        ("hdfs://nn/x", None),
        ("s3a://b/x", None),
    ],
)
def test_stream_start_picks_manager_by_scheme(spark, root, manager):
    """Local roots get the rename-based manager; HDFS and object-store
    roots leave Spark's default in place. The roots do not exist: the
    rule reads the string only."""
    before = spark.conf.get(MANAGER_CONF, None)
    with stream_start(spark, root, partitions=3):
        assert spark.conf.get(MANAGER_CONF, None) == (manager or before)
        assert spark.conf.get(PARTITIONS_CONF) == "3"
    assert spark.conf.get(MANAGER_CONF, None) == before


def test_plain_path_resolves_against_default_fs():
    assert is_local_checkpoint("/tmp/x", "file:///")
    assert is_local_checkpoint("ckpts/x", "file:///")
    assert not is_local_checkpoint("/tmp/x", "hdfs://nn:8020")
    assert is_local_checkpoint("file:/tmp/x", "hdfs://nn:8020")


def _stream_confs(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in (PARTITIONS_CONF, MANAGER_CONF)}


def test_run_to_memory_restores_session_confs(tmp_path, spark):
    """The stream-start confs are restored, and each drain names its own
    table: two drains in one session add two tables, each with its own
    answer."""
    before = _stream_confs(spark)
    tables = {t.name for t in spark.catalog.listTables()}
    src = str(tmp_path / "src")
    spark.range(20).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    out = run_to_memory(stream.groupBy().count())
    evens = run_to_memory(stream.where("id % 2 = 0").groupBy().count())
    assert out.collect()[0][0] == 20
    assert evens.collect()[0][0] == 10
    assert len({t.name for t in spark.catalog.listTables()} - tables) == 2
    assert _stream_confs(spark) == before


def test_candle_app_runs_two_stores_at_4_cores(monkeypatch, tmp_path, spark):
    """Two state stores at 4 cores; once ``build_app`` returns, the
    session's shuffle-partition count and checkpoint file manager are
    what they were, so batch queries keep their own sizing."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    before = _stream_confs(spark)
    app = build_app(
        _wire_trades(table_stream(spark, SF_SMOKE, "events")),
        CheckpointManager(str(tmp_path / "ckpts")),
        with_taps=False,
        available_now=True,
    )
    assert _stream_confs(spark) == before
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


def _final_candles(emitted: list[tuple]) -> dict[tuple, tuple]:
    """The last emission per (base, start_ts). Update mode re-emits a
    candle whenever it gains trades, so the last one carries the largest
    volume."""
    final: dict[tuple, tuple] = {}
    for row in emitted:
        key = row[:2]
        if key not in final or row[-1] > final[key][-1]:
            final[key] = row
    return final


def _batch_candles(spark, tape: str) -> dict[tuple, tuple]:
    """Batch ``ohlc_candles`` over every admitted trade of the tape."""
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
    return want


def test_candle_app_restart_keeps_checkpointed_stores(monkeypatch, tmp_path, spark):
    """Stop the candle app half way through a tape and restart it from the
    same checkpoint under a different core count and checkpoint file
    manager (Spark's default, then the rename-based one): the query keeps
    the state-store count it was started with, reads only the new files,
    and the final candle per (base, start_ts) equals the batch candles
    over every admitted trade, so no trade is lost or counted twice."""
    tape = str(tmp_path / "tape")
    os.makedirs(tape)
    files = _wire_tape(n_files=6, trades_per_file=40)
    checkpoints = CheckpointManager(str(tmp_path / "ckpts"))
    emitted: list[tuple] = []
    managers: list[str | None] = []

    def collect(batch_df, batch_id):
        # The batch's session is the one the query cloned at start().
        managers.append(batch_df.sparkSession.conf.get(MANAGER_CONF, None))
        parsed = batch_df.select(F.from_json("value", CANDLE_JSON_SCHEMA).alias("c"))
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
    with monkeypatch.context() as m:
        m.setattr(ckpt, "is_local_checkpoint", lambda path, default_fs: False)
        assert _state_stores(run(cores=32)) == 4
    assert set(managers) == {None}

    managers.clear()
    _write_tape_files(tape, 3, files[3:])
    restarted = run(cores=4)
    assert set(managers) == {RENAME_MANAGER}
    assert _state_stores(restarted) == 4
    progress = restarted.recentProgress
    assert sum(p["numInputRows"] for p in progress) == sum(map(len, files[3:]))
    assert all(
        op["numRowsDroppedByWatermark"] == 0
        for p in progress
        for op in p["stateOperators"]
    )
    assert _final_candles(emitted) == _batch_candles(spark, tape)


CRASH_CHILD = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "candle_crash_child.py"
)


def _last_batch(log_dir: str) -> int:
    """The highest batch id in an offset or commit log, -1 if none."""
    if not os.path.isdir(log_dir):
        return -1
    return max((int(n) for n in os.listdir(log_dir) if n.isdigit()), default=-1)


def test_candle_app_survives_sigkill(tmp_path, spark):
    """SIGKILL the candle app, its Python process and JVM, at seeded points:
    from outside at two random delays while batches run, and inside the
    sink of a batch, after the batch's offset-log entry is written and
    before its commit-log entry. After each kill the app restarts from the
    same checkpoint, until a run drains the tape. The sink is durable and
    keyed by batch id, so a replayed batch rewrites its own output. The
    final candle per (base, start_ts) equals the batch candles over every
    admitted trade: no trade is lost or counted twice."""
    tape, sink = str(tmp_path / "tape"), str(tmp_path / "sink")
    os.makedirs(tape)
    os.makedirs(sink)
    _write_tape_files(tape, 0, _wire_tape(n_files=12, trades_per_file=40, seed=11))
    root = str(tmp_path / "ckpts")
    log = CheckpointManager(root).path_for("candles_out")
    rng = random.Random(6)
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    with open(tmp_path / "child.log", "w") as child_log:
        for kill in ["delay", "sink", "delay", None]:
            cmd = [sys.executable, CRASH_CHILD, tape, root, sink]
            if kill == "sink":
                k = _last_batch(os.path.join(log, "commits")) + rng.randint(1, 2)
                cmd += ["--kill-in-batch", str(k)]
            child = subprocess.Popen(
                cmd,
                stdout=subprocess.PIPE,
                stderr=child_log,
                text=True,
                env=env,
                start_new_session=True,
            )
            try:
                if kill == "delay":
                    assert child.stdout.readline() == "started\n"
                    time.sleep(rng.uniform(0.0, 1.0))
                    os.killpg(child.pid, signal.SIGKILL)
                rc = child.wait(timeout=180)
            finally:
                # Also kills a JVM whose Python process is gone.
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(child.pid, signal.SIGKILL)
                child.stdout.close()
            if kill == "sink":
                assert rc == -signal.SIGKILL
                assert _last_batch(os.path.join(log, "offsets")) == k
                assert _last_batch(os.path.join(log, "commits")) == k - 1
            elif kill == "delay":
                assert rc == -signal.SIGKILL
            else:
                assert rc == 0

    emitted = (
        spark.read.text(glob.glob(os.path.join(sink, "batch-*.json")))
        .select(F.from_json("value", CANDLE_JSON_SCHEMA).alias("c"))
        .select("c.*")
        .collect()
    )
    assert _final_candles([tuple(r) for r in emitted]) == _batch_candles(spark, tape)


def test_main_runs_the_deployed_app(monkeypatch, tmp_path, spark):
    """``python -m ohlc_spark_streaming_spark`` end to end from its eight
    env vars, with a file stream for the Kafka source and the memory sink
    for the Kafka sink: the sink gets the env's bootstrap servers, no
    debug tap starts, candles come out, and ``main`` returns 0 once the
    candle query ends."""
    from ohlc_spark_streaming_spark import __main__ as entry
    from ohlc_spark_streaming_spark.sources import kafka
    from ohlc_spark_streaming_spark.streaming import app

    from .test_config import GOOD_ENV

    tape = str(tmp_path / "tape")
    os.makedirs(tape)
    _write_tape_files(tape, 0, _wire_tape(n_files=2, trades_per_file=20))
    env = {**GOOD_ENV, "CHECKPOINT_LOCATION": str(tmp_path / "ckpts")}
    for key, value in env.items():
        monkeypatch.setenv(key, value)
    monkeypatch.setattr(
        kafka,
        "kafka_stream_reader",
        lambda spark, **_: spark.readStream.schema(WIRE_SCHEMA)
        .format("json")
        .option("path", tape),
    )
    calls = []

    def memory_build_app(*args, **kwargs):
        calls.append(kwargs)
        assert kwargs["sink_format"] == "kafka"
        return build_app(
            *args, **{**kwargs, "sink_format": "memory", "available_now": True}
        )

    monkeypatch.setattr(app, "build_app", memory_build_app)
    spark.streams.resetTerminated()
    assert entry.main([]) == 0
    [kwargs] = calls
    assert kwargs["sink_options"] == {
        "kafka.bootstrap.servers": env["KAFKA_BOOTSTRAP_SERVERS"]
    }
    assert kwargs["with_taps"] is False
    assert not spark.streams.active
    assert spark.table("candles_out").count() > 0
