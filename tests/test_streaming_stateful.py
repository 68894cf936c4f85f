"""Stateful streaming pins: event-time-timer sessionization, the TTL
contract, the chained dedup→candles negative control, and state carried
ACROSS micro-batches by the incremental eval-gram gate.

The registry sweep proves bounded-replay equality with the batch session
oracle; these tests pin what the sweep can't see: the pure fold kernel's
close rules, timers firing for sessions whose events span MULTIPLE
micro-batches (time-sliced tape), and the empirically-probed TTL
contract — ``ttlDurationMs`` is ILLEGAL under timeMode="EventTime" too
(ProcessingTime-only), so event-time timer eviction is this harness's
only deterministic face of state expiry. The transformWithStateInPandas
registry twins and the rolling-active / decontamination folds are pinned
in test_streaming_round8.py.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark import registry
from ohlc_spark_streaming_spark._compat import ensure_protobuf
from ohlc_spark_streaming_spark.sources.batch import load_table
from ohlc_spark_streaming_spark.streaming.stateful import (
    SESSION_GAP_US,
    _session_fold,
    tws_session_timers,
)

from .conftest import SF_SMOKE


needs_protobuf = pytest.mark.skipif(
    not ensure_protobuf(),
    reason="transformWithState needs google.protobuf and no pure-python "
    "runtime was found on this machine (_compat.ensure_protobuf)",
)


GAP = SESSION_GAP_US
HOUR = 3600 * 1_000_000


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _sentinel_tape(spark, tmp_path, ev, n_files):
    """Time-range-sliced tape (sessions span micro-batches) plus the
    watermark-advancing sentinel as the final file.

    The slabs are written SEQUENTIALLY with explicitly spaced mtimes: the
    file source replays files in modification-time order, and a single
    repartitionByRange write stamps all slab files within the same
    instant — an out-of-time-order replay makes earlier slabs late
    beyond the watermark and the event-time operator silently drops
    them (observed: early sessions missing, split sessions merged)."""
    import os

    tape = str(tmp_path / "tape")
    lo, hi = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    span = (hi - lo) / n_files
    for i in range(n_files):
        a = lo + i * span
        b = hi + datetime.timedelta(seconds=1) if i == n_files - 1 else lo + (i + 1) * span
        ev.where((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b))).coalesce(
            1
        ).write.mode("append").parquet(tape)
    sentinel_ts = hi + datetime.timedelta(hours=4, minutes=2, seconds=1)
    spark.createDataFrame(
        [(-1, sentinel_ts, -1, 0.0)],
        "event_id long, ts timestamp_ntz, user_id long, value double",
    ).coalesce(1).write.mode("append").parquet(tape)
    # strictly increasing mtimes in write (= time) order
    parts = sorted(
        (os.path.getmtime(os.path.join(tape, f)), f)
        for f in os.listdir(tape)
        if f.endswith(".parquet")
    )
    for k, (_m, f) in enumerate(parts):
        os.utime(os.path.join(tape, f), (1_000_000 + 10 * k,) * 2)
    schema = spark.read.parquet(tape).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tape)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 minutes")
    )


def test_session_fold_kernel():
    """In-gap events extend; a gap-or-more successor closes the open
    session at input time; state carries across calls."""
    closed, cur = _session_fold([0, HOUR, HOUR + GAP], [10, 20, 5], None)
    assert closed == [(0, HOUR, 2, 30)]
    assert cur == (HOUR + GAP, HOUR + GAP, 1, 5)
    # state from a previous batch extends when the next batch is in-gap
    closed, cur = _session_fold([HOUR + GAP + HOUR], [7], cur)
    assert closed == []
    assert cur == (HOUR + GAP, HOUR + GAP + HOUR, 2, 12)
    # exact-gap boundary closes (oracle: diff >= gap splits)
    closed, cur = _session_fold([cur[1] + GAP], [1], cur)
    assert closed == [(HOUR + GAP, HOUR + GAP + HOUR, 2, 12)]
    assert cur[2] == 1


@needs_protobuf
def test_session_timers_across_batches(tmp_path, spark):
    """A 4-slab time-sliced tape: sessions that straddle slab boundaries
    must be EXTENDED across micro-batches (not closed early by the
    watermark racing ahead), and every final session must be emitted by
    its registered event-time timer in the drain batch — equality with
    the batch gaps-and-islands operator proves both."""
    from ohlc_spark_streaming_spark.queries.streaming import (
        _run_tws,
        session_timers_rollup,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    stream = _sentinel_tape(spark, tmp_path, ev, n_files=4)
    log = _run_tws(
        spark,
        lambda: tws_session_timers(stream),
        "append",
    )
    got = session_timers_rollup(log)
    want = registry.QUERIES["session_windows_user"](spark, SF_SMOKE)
    assert _rows(got) == _rows(want)


@needs_protobuf
def test_ttl_illegal_under_event_time(tmp_path, spark):
    """Pin the probed contract: ttlDurationMs is ProcessingTime-only —
    assigning TTL in timeMode="EventTime" fails with
    STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL (as it does
    under "None", test_tws_ttl_requires_processing_time_mode). Consequence: no
    deterministic positive TTL exhibit exists on a bounded tape (the
    ProcessingTime mode never drains); timer-driven eviction is the
    event-time replacement."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from ohlc_spark_streaming_spark.queries.streaming import _run_tws

    class _TTLProbe(StatefulProcessor):
        def init(self, handle):
            handle.getValueState("x", "x long", ttlDurationMs=60_000)

        def handleInputRows(self, key, rows, timerValues):
            for _ in rows:
                pass
            yield pd.DataFrame({"user_id": [key[0]]})

        def close(self):
            pass

    src = str(tmp_path / "one")
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1))], "user_id long, ts timestamp_ntz"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def build():
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 minute")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=_TTLProbe(),
                outputStructType="user_id long",
                outputMode="Append",
                timeMode="EventTime",
            )
        )

    with pytest.raises(Exception, match="TIME_MODE_TO_ASSIGN_TTL"):
        _run_tws(spark, build, "append")


def test_chained_dedup_candles_negative_control(spark):
    """The chained query's oracle equality is only meaningful if the
    duplicates were real: WITHOUT the dedup stage the doubled delivery
    must double volume/n_trades (and the chained registry entry must
    equal the batch flagship exactly)."""
    from ohlc_spark_streaming_spark.operators.ohlc import ohlc_aggregates
    from ohlc_spark_streaming_spark.sources.stream import table_stream
    from ohlc_spark_streaming_spark.streaming.candles import run_to_memory

    chained = registry.QUERIES["streaming_dedup_then_candles"](
        spark, SF_SMOKE
    )
    batch = registry.QUERIES["ohlc_candles"](spark, SF_SMOKE)
    assert _rows(chained) == _rows(batch)

    dup = table_stream(spark, SF_SMOKE, "events").unionByName(
        table_stream(spark, SF_SMOKE, "events")
    )
    no_dedup = (
        dup.withWatermark("ts", "2 minutes")
        .groupBy(
            F.window(F.col("ts"), "1 hour").alias("window"),
            F.col("event_type").alias("symbol"),
        )
        .agg(*ohlc_aggregates("ts", "value", None, "efficient"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("ws"),
            "symbol",
            "volume",
        )
    )
    doubled = run_to_memory(no_dedup, output_mode="complete")
    vol = {(r.ws, r.symbol): r.volume for r in doubled.collect()}
    want = {
        (r.window_start, r.symbol): r.volume for r in batch.collect()
    }
    assert vol == {k: 2 * v for k, v in want.items()}


def test_incremental_eval_gram_gate_two_phase(tmp_path, spark):
    """The fully incremental decontamination gate's append proof
    (streaming_decontaminate_incr): fold HALF the eval corpus into the
    gram state, then fold an eval-side APPEND (two more files, so the
    delta anti-join path runs across real micro-batches) into the SAME
    state, and the grown state must (a) equal a from-scratch batch
    rebuild over the full eval corpus gram-for-gram and (b) gate the
    train stream identically to the batch recompute (the
    streaming_decontaminate twin's rows)."""
    from pyspark.sql import functions as F

    from ohlc_spark_streaming_spark.queries.streaming import (
        _DECON_SRC,
        build_eval_grams,
        fold_decontaminate,
        fold_eval_grams,
    )
    from ohlc_spark_streaming_spark.registry import QUERIES
    from ohlc_spark_streaming_spark.sources.batch import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    eval_docs = docs.where(F.col("source") == _DECON_SRC)
    # Eval doc_ids at this SF are the multiples of 20 (all even — a
    # parity split would leave phase 2 EMPTY and the append path
    # untested; caught by self-review). Halve on mod 40 instead, and
    # sanity-pin both halves non-empty.
    evala = eval_docs.where(F.col("doc_id") % 40 == 0)
    evalb = eval_docs.where(F.col("doc_id") % 40 != 0)
    assert evala.count() > 0 and evalb.count() > 0

    def tape(df, path, n_files):
        # Bucket on doc_id div 40 (consecutive eval docs alternate
        # buckets) so the phase-2 tape really is n_files files — phase 2
        # must run n_files real micro-batches for the delta anti-join
        # path to exercise.
        df.withColumn(
            "part", F.expr("doc_id div 40") % n_files
        ).repartitionByRange(n_files, "part").drop("part").write.mode(
            "overwrite"
        ).parquet(path)
        n_written = len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )
        assert n_written == n_files, (path, n_written)
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    # Phase 1: half the eval corpus -> state S1.
    s1 = fold_eval_grams(tape(evala, str(tmp_path / "eval_a"), 1))
    want_a = {r.gram for r in build_eval_grams(evala).df.collect()}
    assert {r.gram for r in s1.df.collect()} == want_a

    # Phase 2: eval-side APPEND folded into S1 (two files -> the
    # second batch exercises the anti-join delta against grown state).
    s2 = fold_eval_grams(tape(evalb, str(tmp_path / "eval_b"), 2), state=s1)
    want_full = {r.gram for r in build_eval_grams(eval_docs).df.collect()}
    assert want_full > want_a  # the append REALLY added grams
    assert {r.gram for r in s2.df.collect()} == want_full

    # The grown state gates the train stream exactly like the batch
    # recompute over the full eval corpus.
    train = docs.where(F.col("source") != _DECON_SRC)
    got = fold_decontaminate(tape(train, str(tmp_path / "train"), 2), s2.df)
    want = QUERIES["streaming_decontaminate"](spark, SF_SMOKE)
    as_rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert as_rows(got) == as_rows(want)
