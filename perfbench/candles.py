"""The ``candle_replay`` workload: the deployed topology (``streaming.app.
build_app``) over a seeded wire-trade tape.

It is a closed-loop drain: the tape generator, a separate process, writes
the whole tape first, then ``build_app(available_now=True)`` reads it one
file per micro-batch, as Kafka's ``maxOffsetsPerTrigger`` would meter a
backlog. The first files warm the process up and are not timed.

The app runs with ``with_taps=False``: the two debug taps are extra
queries that contend for the same cores, which made replay times swing by
a third between runs. Outputs are checked against a DuckDB oracle over the
admitted trades after the timed window.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import harness as H

PREFIX = "candles-"
TOPIC_MATCH = re.compile(r"parsed-trades-.+-usdt")
TOPIC_BASE = re.compile(r"parsed-trades-([^\-]+)-usdt")

#: The tape holds this many untimed files, then enough for ``--seconds``
#: at ``ASSUMED_BATCH_S`` per file.
WARMUP_FILES = 6
ASSUMED_BATCH_S = 0.7
#: Files of the tape the ``local[1]`` scaling reference drains.
LOCAL1_FILES = 4
#: Timed runs of each isolated layer call; the median is reported.
ISOLATED_REPS = 3


def write_tape(seed: int, out: str, report: str, files: int) -> dict:
    """Run the tape generator as its own process and return its report."""
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "tapegen.py"),
        "--seed", str(seed), "--out", out, "--report", report, "--files", str(files),
    ]
    subprocess.run(cmd, check=True, timeout=120)
    with open(report) as f:
        return json.load(f)


def wire_stream(spark, tape_dir: str):
    """The benchmark's file-stream stand-in for the Kafka source: one
    ``topic<TAB>value`` record per line, one file per micro-batch."""
    reader = spark.readStream.format("text").option("maxFilesPerTrigger", "1")
    return wire_columns(reader.load(tape_dir))


def wire_columns(lines):
    from pyspark.sql import functions as F

    return lines.select(
        F.substring_index("value", "\t", 1).alias("topic"),
        F.expr("substring(value, instr(value, char(9)) + 1)").alias("value"),
    )


def start_app(spark, tape_dir: str, ckpt_root: str):
    from ohlc_spark_streaming_spark.streaming.app import build_app
    from ohlc_spark_streaming_spark.streaming.checkpoints import CheckpointManager

    return build_app(
        wire_stream(spark, tape_dir),
        CheckpointManager(ckpt_root),
        output_prefix=PREFIX,
        with_taps=False,
        available_now=True,
    )


# ------------------------------------------------------------------ oracle


def admitted_trades(tape_dir: str, names: list[str]) -> list[tuple]:
    """(base, epoch_s, price, quantity) of every trade the reference
    semantics admit: valid JSON with a parseable epoch-second timestamp,
    base from the topic when it matches, else ``from_symbol``."""
    out = []
    for name in names:
        with open(os.path.join(tape_dir, name)) as f:
            for line in f:
                topic, value = line.rstrip("\n").split("\t", 1)
                try:
                    d = json.loads(value)
                    ts = int(d["timestamp"])
                except (ValueError, KeyError, TypeError):
                    continue
                if TOPIC_MATCH.search(topic):
                    m = TOPIC_BASE.search(topic)
                    base = m.group(1) if m else ""
                else:
                    base = d.get("from_symbol")
                out.append((base, ts, float(d["price"]), float(d["quantity"])))
    return out


def oracle_candles(trades: list[tuple]) -> dict:
    """DuckDB 1-minute OHLCV per base, tie-breaks as FIXTURES.md §B:
    open is the earliest trade's price (ties: lowest), close the latest's
    (ties: highest)."""
    import duckdb
    import pyarrow as pa

    table = pa.table(
        {
            "base": [t[0] for t in trades],
            "ts": [t[1] for t in trades],
            "price": [t[2] for t in trades],
            "qty": [t[3] for t in trades],
        }
    )
    con = duckdb.connect()
    try:
        con.register("trades", table)
        rows = con.execute(
            """
            SELECT base, ts - ts % 60 AS start_s,
                   min(struct_pack(t := ts, p := price)).p AS open,
                   max(price) AS high, min(price) AS low,
                   max(struct_pack(t := ts, p := price)).p AS close,
                   sum(qty) AS volume
            FROM trades GROUP BY 1, 2
            """
        ).fetchall()
    finally:
        con.close()
    return {(r[0], r[1]): tuple(r[2:]) for r in rows}


def watermark_drops(batches: list[dict]) -> int:
    """Rows the state operator dropped as late. The tapes keep their
    disorder inside the watermark, so any drop is a failure."""
    dropped = sum(s["numRowsDroppedByWatermark"] for p in batches for s in p["stateOperators"])
    if dropped:
        print(f"{dropped} rows dropped by the watermark", file=sys.stderr)
    return dropped


def _epoch(iso: str) -> int:
    from datetime import datetime, timezone

    return int(datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp())


def check_candles(rows: list[tuple], expected: dict) -> tuple[int, int, list[str]]:
    """Compare sink rows ``(topic, key, value)`` against the oracle.

    The final candle of each key is its highest-volume update (every
    update adds positive quantity). Returns (checked, mismatched, notes).
    """
    final: dict[tuple, dict] = {}
    notes = []
    bad = 0
    for topic, key, value in rows:
        v = json.loads(value)
        k = (v["base"], _epoch(v["start_ts"]))
        if topic != f"{PREFIX}{v['base']}-usdt" or key != v["base"]:
            bad += 1
            notes.append(f"routing {topic!r}/{key!r} for base {v['base']!r}")
        if k not in final or v["volume"] > final[k]["volume"]:
            final[k] = v
    for k in expected.keys() | final.keys():
        want = expected.get(k)
        got = final.get(k)
        got_t = None if got is None else (
            got["open"], got["high"], got["low"], got["close"], got["volume"]
        )
        if got is not None and _epoch(got["end_ts"]) != k[1] + 60:
            got_t = ("bad end_ts", got["end_ts"])
        if want != got_t:
            bad += 1
            if len(notes) < 5:
                notes.append(f"candle {k}: want {want} got {got_t}")
    return len(expected), bad, notes


# ------------------------------------------------------------------ layers


def isolated_layers(spark, tape_dir: str, tracer: H.Tracer, parent: str) -> dict:
    """Timed calls into ``operators.trades`` and ``operators.ohlc`` over
    the replay tape, as batch jobs into the ``noop`` sink."""
    import statistics

    from pyspark.sql import functions as F

    from ohlc_spark_streaming_spark.operators.ohlc import ohlc_candles
    from ohlc_spark_streaming_spark.operators.trades import trades_from_wire

    wire = wire_columns(spark.read.text(tape_dir)).cache()
    rows_in = wire.count()
    trades = trades_from_wire(wire).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    rows_out = trades.count()

    def timed(name, df):
        times = []
        for _ in range(ISOLATED_REPS):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            tracer.add(name, t0, t1, parent)
            times.append(t1 - t0)
        return statistics.median(times)

    parse_s = timed("operators.trades.trades_from_wire", trades_from_wire(wire))
    mat = trades.localCheckpoint()
    agg_s = timed(
        "operators.ohlc.ohlc_candles",
        ohlc_candles(mat, ts_col="timestamp", symbol_col="base", price_col="price",
                     qty_col="quantity", window_duration="1 minute"),
    )
    wire.unpersist()
    return {
        "operators.trades.parse_rows_per_s": rows_in / parse_s,
        "operators.trades.admitted_ratio": rows_out / rows_in,
        "operators.ohlc.agg_rows_per_s": rows_out / agg_s,
    }


def stream_layers(spark, batches: list[dict], run_id: str, out_rows: int) -> dict:
    """Per-layer figures from the progress events of the timed queries."""
    from ohlc_spark_streaming_spark.streaming.candles import stream_state_partitions

    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in batches]
        return H.p50(vals) if vals else 0.0

    data = [p for p in batches if p["numInputRows"] > 0]
    in_rows = sum(p["numInputRows"] for p in batches)
    state = [p["stateOperators"][0] for p in batches if p["stateOperators"]]
    self_ms = [
        p["durationMs"].get("triggerExecution", 0)
        - sum(p["durationMs"].get(k, 0) for k in H.BATCH_PHASES)
        for p in batches
    ]
    census = H.job_census(spark, run_id)
    n = max(len(batches), 1)
    return {
        "sources.list_ms": H.p50(
            [p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in batches]
        ),
        "sources.rows_per_batch": in_rows / max(len(data), 1),
        "streaming.candles.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
        "streaming.candles.state_bytes": float(max((s["memoryUsedBytes"] for s in state), default=0)),
        "streaming.candles.state_commit_ms": H.p50([s["commitTimeMs"] for s in state]) if state else 0.0,
        "streaming.candles.state_stores": float(state[-1].get("numShufflePartitions", 0)) if state else 0.0,
        "streaming.candles.rows_dropped_by_watermark": float(
            sum(s["numRowsDroppedByWatermark"] for s in state)
        ),
        "streaming.app.batches": float(len(batches)),
        "streaming.app.planning_ms": med("queryPlanning"),
        "streaming.app.add_batch_ms": med("addBatch"),
        "streaming.app.wal_commit_ms": med("walCommit"),
        "streaming.app.commit_offsets_ms": med("commitOffsets"),
        "streaming.app.self_ms": H.p50(self_ms) if self_ms else 0.0,
        "streaming.app.jobs_per_batch": census["jobs"] / n,
        "streaming.app.tasks_per_batch": census["tasks"] / n,
        "sinks.output_rows": float(out_rows),
        "sinks.output_per_input": out_rows / max(in_rows, 1),
        "session.stream_state_partitions": float(stream_state_partitions()),
        "session.shuffle_partitions": float(spark.conf.get("spark.sql.shuffle.partitions")),
    }


# --------------------------------------------------------------- workloads


def _setup(scratch, tape_dir, ckpt, log, tracer, wl_span):
    """Session build plus app start, timed ``SETUP_REPS`` times."""
    state = {"n": 0}

    def once():
        state["n"] += 1
        t0 = time.time()
        spark = H.new_session("perfbench-candles", scratch)
        t1 = time.time()
        log.attach(spark)
        app = start_app(spark, tape_dir, os.path.join(ckpt, f"setup{state['n']}"))
        t2 = time.time()
        if tracer is not None:
            sid = tracer.add("setup", t0, t2, wl_span, rep=state["n"])
            tracer.add("session.build_session", t0, t1, sid)
            tracer.add("streaming.app.build_app", t1, t2, sid)

        def teardown():
            app.stop()
            spark.stop()

        return (spark, app), teardown

    return H.time_setups(once)


def candle_replay(root: str, seed: int, seconds: float, trace: bool, scratch: str) -> dict:
    tape = os.path.join(scratch, "tape")
    report_path = os.path.join(scratch, "tape.json")
    warm = WARMUP_FILES
    files = warm + int(round(seconds / ASSUMED_BATCH_S))
    report = write_tape(seed, tape, report_path, files)
    expected = oracle_candles(admitted_trades(tape, [f["name"] for f in report["files"]]))
    tape_rows = report["rows"]

    log = H.ProgressLog()
    tracer = H.Tracer() if trace else None
    t_wl = time.time()
    wl_span = "workload"
    ckpt = os.path.join(scratch, "ckpt")
    idle = os.path.join(scratch, "idle")
    os.makedirs(idle)
    setup_s, (spark, app) = _setup(scratch, idle, ckpt, log, tracer, wl_span)
    app.stop()
    pid = H.jvm_pid(spark)

    failed = 0
    ticks0 = H.cpu_ticks()
    t_drain = time.time()
    app = start_app(spark, tape, os.path.join(ckpt, "drain"))
    rid = str(app.candle_query.runId)
    try:
        app.candle_query.awaitTermination()
    except Exception as exc:  # a failed drain counts, the run goes on
        print(f"drain failed: {exc}", file=sys.stderr)
        failed += 1
    drain_s = time.time() - t_drain
    steal = H.steal_share(ticks0, H.cpu_ticks())
    log.wait_terminated(rid)
    rows = [tuple(r) for r in spark.table("candles_out").collect()]

    batches = log.batches(rid)
    data = [p for p in batches if p["numInputRows"] > 0]
    if sum(p["numInputRows"] for p in data) != tape_rows:
        print(f"drain read {sum(p['numInputRows'] for p in data)} of {tape_rows} rows", file=sys.stderr)
        failed += 1
    failed += watermark_drops(batches)
    # A batch's steal share runs from the previous progress event (the
    # drain's start for the first) to its own.
    prev = ticks0
    for p in batches:
        p["unstolen_ms"] = H.unstolen(p["durationMs"]["triggerExecution"], prev, p["ticks"])
        prev = p["ticks"]
    timed = data[warm:]
    trigger_ms = [p["unstolen_ms"] for p in timed]
    busy_s = sum(trigger_ms) / 1000.0
    raw_s = sum(p["durationMs"]["triggerExecution"] for p in timed) / 1000.0
    checked, bad, notes = check_candles(rows, expected)
    for n in notes:
        print(n, file=sys.stderr)
    tail_ms, tail_pct, n_tail = H.tail(trigger_ms)
    out = {
        "metrics": {
            "setup_s": H.metric(setup_s, "s"),
            "peak_rss_mb": H.metric(H.peak_rss_mb(pid), "MB"),
            "work_s": H.metric(busy_s, "s"),
            "op_p50_ms": H.metric(H.p50(trigger_ms), "ms"),
            "op_tail_ms": H.metric(tail_ms, "ms"),
        },
        "attempted": len(data) + checked,
        "failed": failed + bad,
        "info": {
            "replay_rows_per_s": sum(p["numInputRows"] for p in timed) / busy_s,
            "raw_work_s": raw_s,
            "replay_batch_tail_percentile": tail_pct,
            "replay_batch_samples": n_tail,
            "drain_s": drain_s,
            "steal_share": steal,
            "tape_rows": tape_rows,
            "valid_rows": report["valid"],
        },
    }
    if trace:
        layers = stream_layers(spark, batches, rid, len(rows))
        layers["sources.backlog_rows_max"] = float(tape_rows)
        layers["operators.trades.valid_share"] = report["valid"] / tape_rows
        drain_span = tracer.add("drain", t_drain, t_drain + drain_s, wl_span)
        tracer.add_batches(drain_span, batches)
        iso_span = tracer.add("isolated", time.time(), time.time(), wl_span)
        layers.update(isolated_layers(spark, tape, tracer, iso_span))
        if layers["operators.trades.admitted_ratio"] != layers["operators.trades.valid_share"]:
            print("operators.trades admitted another share than the tape's valid one", file=sys.stderr)
            out["failed"] += 1
        layers.update(single_core_reference(spark, tape, ckpt, scratch, log, tracer, wl_span))
        out["layers"] = layers
        out["tracer"] = tracer
        tracer.spans.insert(0, {"trace_id": tracer.trace_id, "span_id": wl_span, "parent": None,
                                "name": "candle_replay", "start": t_wl, "end": time.time()})
    return out


def single_core_reference(spark, tape, ckpt, scratch, log, tracer, parent) -> dict:
    """A drain of the tape's first files at ``local[1]``: the scaling
    reference, reported and not gated. Its first (cold) batch is not
    counted, as in the timed drain."""
    import shutil

    part = os.path.join(scratch, "tape-local1")
    os.makedirs(part)
    names = sorted(n for n in os.listdir(tape) if n.endswith(".txt"))[:LOCAL1_FILES]
    for n in names:
        shutil.copy(os.path.join(tape, n), part)
    spark.stop()
    one = H.new_session("perfbench-local1", scratch, master="local[1]")
    log.attach(one)
    t0 = time.time()
    app = start_app(one, part, os.path.join(ckpt, "local1"))
    app.candle_query.awaitTermination()
    rid = str(app.candle_query.runId)
    log.wait_terminated(rid)
    warm = [p for p in log.batches(rid) if p["numInputRows"] > 0][1:]
    tracer.add("drain.local1", t0, time.time(), parent, files=len(names))
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in warm) / 1000.0
    return {"streaming.app.local1_rows_per_s": sum(p["numInputRows"] for p in warm) / busy_s}
