"""Batch↔stream parity (SURVEY §5.2.3) and output-mode semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.operators.ohlc import ohlc_candles
from ohlc_spark_streaming_spark.session import scoped_confs
from ohlc_spark_streaming_spark.sources.batch import load_table
from ohlc_spark_streaming_spark.sources.stream import table_stream
from ohlc_spark_streaming_spark.streaming.candles import (
    run_to_memory,
    streaming_ohlc_candles,
)

from .conftest import ROCKSDB_CONFS, SF_SMOKE

KW = dict(ts_col="ts", symbol_col="event_type", price_col="value", qty_col=None,
          window_duration="1 hour")


def test_streaming_complete_equals_batch(spark):
    """Complete-mode bounded replay must equal the batch answer exactly."""
    stream = table_stream(spark, SF_SMOKE, "events")
    out = run_to_memory(
        streaming_ohlc_candles(stream, watermark_delay="2 minutes", **KW),
        output_mode="complete",
    )
    batch = ohlc_candles(load_table(spark, SF_SMOKE, "events"), **KW)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_append_withholds_unclosed_windows(spark):
    """Append mode emits only windows finalized by the watermark: on a
    bounded replay the trailing window(s) past (max_ts - delay) are
    withheld (SURVEY §2.9 ST3/ST6)."""
    stream = table_stream(spark, SF_SMOKE, "events")
    out = run_to_memory(
        streaming_ohlc_candles(stream, watermark_delay="2 minutes", **KW),
        output_mode="append",
    )
    batch = ohlc_candles(load_table(spark, SF_SMOKE, "events"), **KW)
    out_rows = sorted(map(tuple, out.collect()))
    batch_rows = sorted(map(tuple, batch.collect()))
    assert 0 < len(out_rows) <= len(batch_rows)
    # Everything append emitted matches the batch answer for that window.
    assert set(out_rows) <= set(batch_rows)
    # Only trailing (unclosed) windows may be missing.
    max_emitted_start = max(r[0] for r in out_rows)
    missing = [r for r in batch_rows if tuple(r) not in set(out_rows)]
    assert all(r[0] >= max_emitted_start for r in missing)


def test_streaming_update_mode_refines_to_batch(spark):
    """Update mode (reference behavior, main.py:215) re-emits a key each
    time its state changes; every key's FINAL emission equals the batch
    answer, so batch rows are a subset of the union of emissions."""
    stream = table_stream(spark, SF_SMOKE, "events")
    out = run_to_memory(
        streaming_ohlc_candles(stream, watermark_delay="2 minutes", **KW),
        output_mode="update",
    )
    batch = ohlc_candles(load_table(spark, SF_SMOKE, "events"), **KW)
    emitted = set(map(tuple, out.collect()))
    assert set(map(tuple, batch.collect())) <= emitted


def test_stateful_counts_carry_across_batches(tmp_path, spark):
    """applyInPandasWithState must carry state across micro-batches: split
    the events into 4 files (one per micro-batch via maxFilesPerTrigger=1)
    and check the final per-key counts equal the batch aggregate."""
    from pyspark.sql import functions as F
    from ohlc_spark_streaming_spark.streaming.stateful import (
        final_counts,
        stateful_event_counts,
    )
    from ohlc_spark_streaming_spark.streaming.candles import run_to_memory

    src = str(tmp_path / "events_split")
    events = load_table(spark, SF_SMOKE, "events")
    # 4 files -> 4 micro-batches; keys recur across files.
    events.withColumn("part", F.col("event_id") % 4).repartition(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    emissions = stateful_event_counts(stream)
    log = run_to_memory(emissions, output_mode="update")
    got = {
        (r.user_id, r.n_errors) for r in final_counts(log).collect()
    }
    want = {
        (r.user_id, r.n)
        for r in events.where("event_type = 'error'")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # More emissions than keys proves multiple batches actually ran.
    assert log.count() > len(want)


def test_checkpoint_recovery_no_reprocessing(tmp_path, spark):
    """ST8 exactly-once: restart a checkpointed file-sink query after new
    input arrives — only the NEW file is processed (offsets journaled in
    the checkpoint; the file sink's commit log dedupes output)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, SF_SMOKE, "events")
    first = events.limit(400)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.select("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .queryName("ckpt_recovery")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 400

    # New file lands; restart from the same checkpoint.
    events.limit(700).exceptAll(first).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 700  # 400 old NOT reprocessed + 300 new
    assert got.select("event_id").distinct().count() == 700


def test_foreach_batch_tap(tmp_path, spark):
    """The reference's console taps (main.py:90-99) re-expressed as an
    assertable foreachBatch sink: every micro-batch is captured with its
    batch id."""
    seen = []

    def tap(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    stream = table_stream(spark, SF_SMOKE, "events").select("event_id", "event_type")
    q = (
        stream.writeStream.foreachBatch(tap)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 1
    assert sum(n for _, n in seen) == load_table(spark, SF_SMOKE, "events").count()


def test_trade_candle_app_topology(tmp_path, spark):
    """The recomposed reference application (streaming/app.py): wire
    stream -> concurrent candle sink + debug taps, each with an isolated
    checkpoint, all assertable via memory tables."""
    from ohlc_spark_streaming_spark.queries.reference import _wire_trades
    from ohlc_spark_streaming_spark.streaming.app import build_app
    from ohlc_spark_streaming_spark.streaming.checkpoints import CheckpointManager

    wire = _wire_trades(table_stream(spark, SF_SMOKE, "events"))
    app = build_app(
        wire,
        CheckpointManager(str(tmp_path / "ckpts")),
        window_duration="15 minutes",
        available_now=True,
    )
    for q in [app.candle_query, *app.tap_queries]:
        q.awaitTermination()
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert spark.table("tap_raw").count() == n_events
    assert spark.table("tap_trades").count() == n_events
    out = spark.table("candles_out")
    assert out.columns == ["topic", "key", "value"]
    assert out.count() > 0
    # Per-row topic routing: every topic carries the prefix + base + quote.
    topics = {r.topic for r in out.select("topic").distinct().collect()}
    assert all(t.startswith("candles-") and t.endswith("-usdt") for t in topics)


def test_streaming_minute_candles_roll_up_to_batch_hourly(spark):
    """Continuous-aggregate parity: a streaming 1-minute candle layer,
    rolled up with ohlc_rollup, must equal the DIRECT batch hourly
    aggregation bit-for-bit — the streaming pre-agg + batch re-window
    pattern a 100 TB deployment uses instead of re-reading raw events."""
    from ohlc_spark_streaming_spark.operators.ohlc import ohlc_rollup

    fine_kw = {**KW, "window_duration": "1 minute"}
    stream = table_stream(spark, SF_SMOKE, "events")
    fine = run_to_memory(
        streaming_ohlc_candles(stream, watermark_delay="2 minutes", **fine_kw),
        output_mode="complete",
    )
    hourly = ohlc_rollup(fine, coarse="1 hour")
    batch = ohlc_candles(load_table(spark, SF_SMOKE, "events"), **KW)
    assert sorted(map(tuple, hourly.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_streaming_full_outer_interval_join(spark):
    """Full-outer stream-stream interval join: matched pairs equal the
    batch inner join exactly (never watermark-withheld); unmatched rows
    from EACH side are emitted once the other side's watermark proves no
    in-band partner can arrive — every emission must exist in the batch
    full-outer answer, and BOTH null paths must actually fire. Exact
    completeness is what the sentinel-closed oracle query
    (streaming_full_outer_join) proves."""
    from ohlc_spark_streaming_spark.streaming.joins import (
        interval_join_full_outer,
    )

    def sides(df):
        purchases = df.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("purchase_ts"),
        )
        views = df.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("view_ts"),
        )
        return purchases, views

    kw = dict(
        key="key_id", left_ts="purchase_ts", right_ts="view_ts",
        lookback="2 hours", watermark="1 hour",
    )
    sp, sv = sides(table_stream(spark, SF_SMOKE, "events"))
    out = run_to_memory(
        interval_join_full_outer(sp, sv, **kw)
        .select("purchase_id", "view_id"),
        output_mode="append",
    )
    bp, bv = sides(load_table(spark, SF_SMOKE, "events"))
    batch = interval_join_full_outer(bp, bv, **kw).select(
        "purchase_id", "view_id"
    )

    got = set(map(tuple, out.collect()))
    want = set(map(tuple, batch.collect()))
    assert got <= want
    # Matched pairs are never watermark-withheld: exact equality.
    assert {t for t in got if None not in t} == {
        t for t in want if None not in t
    }
    # BOTH outer paths must actually fire (unmatched purchases AND
    # unmatched views before the final watermark).
    assert any(t[1] is None for t in got)
    assert any(t[0] is None for t in got)


def test_streaming_left_anti_interval_join(spark):
    """Left-anti stream-stream interval join (leftOuter + null-probe
    composition — Spark has no native streaming anti, pinned below):
    every emission must exist in the batch NOT-EXISTS answer, matched
    rows must never appear, and without a tape-closing sentinel the
    watermark WITHHOLDS trailing rows — emitted ⊂ batch answer is the
    semantics, exact equality is what the sentinel-closed oracle query
    (streaming_anti_join) proves."""
    from ohlc_spark_streaming_spark.streaming.joins import (
        interval_join_left_anti,
        interval_join_left_semi,
    )

    def sides(df):
        purchases = df.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("purchase_ts"),
        )
        views = df.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("view_ts"),
        )
        return purchases, views

    kw = dict(
        key="key_id", left_ts="purchase_ts", right_ts="view_ts",
        lookback="2 hours", watermark="1 hour",
    )
    sp, sv = sides(table_stream(spark, SF_SMOKE, "events"))
    out = run_to_memory(
        interval_join_left_anti(sp, sv, **kw).select("purchase_id"),
        output_mode="append",
    )
    bp, bv = sides(load_table(spark, SF_SMOKE, "events"))
    batch_anti = interval_join_left_anti(bp, bv, **kw).select("purchase_id")
    batch_semi = interval_join_left_semi(bp, bv, **kw).select("purchase_id")

    got = {r.purchase_id for r in out.collect()}
    want = {r.purchase_id for r in batch_anti.collect()}
    matched = {r.purchase_id for r in batch_semi.collect()}
    # Emissions are sound (never a matched purchase, never outside the
    # batch anti answer) and the anti path actually fires.
    assert got <= want
    assert not (got & matched)
    assert got
    # Watermark-withholding: without a sentinel the last EVICTING
    # watermark is min(max purchase ts, max view ts) - delay — each
    # watermark node only sees its own filtered side, and the final
    # no-data batch evicts with the watermark of the last data batch.
    # Everything at/after that boundary must be withheld, everything
    # strictly before it must have been emitted.
    import datetime

    max_p = max(r.purchase_ts for r in bp.collect())
    max_v = max(r.view_ts for r in bv.collect())
    final_wm = min(max_p, max_v) - datetime.timedelta(hours=1)
    ts_of = {r.purchase_id: r.purchase_ts for r in bp.collect()}
    withheld = want - got
    assert withheld == {p for p in want if ts_of[p] >= final_wm}


def test_streaming_native_left_anti_unsupported(spark):
    """Pin the composition's reason to exist: Spark's streaming join
    state machine rejects a NATIVE left_anti stream-stream join (if this
    ever starts passing, replace the composition in
    interval_join_left_anti with the native join type)."""
    import pytest

    from ohlc_spark_streaming_spark.streaming.joins import _interval_join

    def sides(df):
        purchases = df.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("purchase_ts"),
        )
        views = df.where(F.col("event_type") == "view").select(
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("view_ts"),
        )
        return purchases, views

    sp, sv = sides(table_stream(spark, SF_SMOKE, "events"))
    native = _interval_join(
        sp, sv, "key_id", "purchase_ts", "view_ts",
        "2 hours", "1 hour", "left_anti",
    )
    with pytest.raises(Exception, match="(?i)anti|not supported"):
        run_to_memory(
            native.select("purchase_id"), output_mode="append"
        )


def _protobuf_ok() -> bool:
    from ohlc_spark_streaming_spark._compat import ensure_protobuf

    return ensure_protobuf()


import pytest as _pytest


@_pytest.mark.skipif(
    not _protobuf_ok(),
    reason="transformWithState needs google.protobuf and no pure-python "
    "runtime was found on this machine (_compat.ensure_protobuf)",
)
def test_tws_event_counts_parity(spark):
    """transformWithStateInPandas running counts equal the batch aggregate
    (same monotonic-emission contract as the applyInPandasWithState twin)."""
    from ohlc_spark_streaming_spark.streaming.stateful import (
        final_counts,
        tws_event_counts,
    )

    with scoped_confs(spark, ROCKSDB_CONFS):
        log = run_to_memory(
            tws_event_counts(table_stream(spark, SF_SMOKE, "events")),
            output_mode="update",
        )
    got = final_counts(log)
    want = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'error'")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_incremental_materialization_compacts_to_batch(tmp_path, spark):
    """The changelog-materialization loop: update-mode candle emissions
    appended to parquet by foreachBatch (with their batch id), then
    compacted snapshot-style (latest emission per key wins) — the result
    must equal the direct batch aggregate. This is how a 100 TB deployment
    maintains a queryable rollup table without reprocessing raw events."""
    from pyspark.sql import Window

    out_dir = str(tmp_path / "candle_changelog")
    stream = table_stream(spark, SF_SMOKE, "events")
    candles = streaming_ohlc_candles(stream, watermark_delay="2 minutes", **KW)

    def sink(batch_df, batch_id):
        (
            batch_df.withColumn("_bid", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = (
        candles.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    log = spark.read.parquet(out_dir)
    w = Window.partitionBy("window_start", "symbol").orderBy(F.col("_bid").desc())
    snapshot = (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_bid")
    )
    batch = ohlc_candles(load_table(spark, SF_SMOKE, "events"), **KW)
    cols = sorted(batch.columns)
    assert sorted(map(tuple, snapshot.select(*cols).collect())) == sorted(
        map(tuple, batch.select(*cols).collect())
    )


def test_stateful_gaps_carry_across_batches(tmp_path, spark):
    """stateful_interarrival_gaps must form the first gap of batch N+1
    against the last sighting of batch N: split events into 4 TIME-RANGE
    files (mtimes forced ascending so the file source replays them in
    event-time order, like a log), stream one file per micro-batch, and
    check the gap multiset equals the batch lag() window exactly."""
    import os
    import time

    from pyspark.sql import functions as F
    from ohlc_spark_streaming_spark.streaming.candles import run_to_memory
    from ohlc_spark_streaming_spark.streaming.stateful import (
        stateful_interarrival_gaps,
    )

    src = tmp_path / "events_timesplit"
    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    # 4 contiguous time ranges — cross-batch arrival must be time-ordered
    # for the stateful gap contract (see stateful_interarrival_gaps).
    from pyspark.sql import Window as W

    ranked = events.withColumn(
        "_q", F.ntile(4).over(W.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        part = ranked.where(F.col("_q") == i).drop("_q")
        path = src / f"part_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(path))
        t = time.time() - 400 + i * 100
        for root, _dirs, files in os.walk(path):
            for fname in files:
                os.utime(os.path.join(root, fname), (t, t))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part_*"))
    )
    gaps = stateful_interarrival_gaps(stream)
    log = run_to_memory(gaps, output_mode="append")

    got = sorted(
        (r.event_type, r.gap_us) for r in log.collect()
    )
    want = sorted(
        (r.event_type, r.gap_us)
        for r in events.select(
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " lag(ts) OVER (PARTITION BY user_id, event_type"
                " ORDER BY ts, event_id), ts)"
            ).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_stateful_guard_rejects_out_of_order_batches(tmp_path, spark):
    """The stateful extractors' cross-batch ordering precondition is
    RUNTIME-ENFORCED (ADVICE r6): replaying the later time-half BEFORE
    the earlier one must fail the query with the ordering error, not
    silently emit wrong gaps."""
    import os
    import time

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W
    from ohlc_spark_streaming_spark.streaming.candles import run_to_memory
    from ohlc_spark_streaming_spark.streaming.stateful import (
        stateful_interarrival_gaps,
    )

    src = tmp_path / "events_reversed"
    events = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .where(F.col("user_id") % 7 == 0)
    )
    halves = events.withColumn(
        "_q", F.ntile(2).over(W.orderBy("ts", "event_id"))
    )
    # LATER half gets the EARLIER mtime → the file source replays it first.
    for i, mtime_rank in ((1, 2), (2, 1)):
        path = src / f"part_{i}"
        halves.where(F.col("_q") == i).drop("_q").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(path))
        t = time.time() - 400 + mtime_rank * 100
        for root, _dirs, files in os.walk(path):
            for fname in files:
                os.utime(os.path.join(root, fname), (t, t))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part_*"))
    )
    with pytest.raises(Exception, match="out-of-order cross-batch arrival"):
        run_to_memory(
            stateful_interarrival_gaps(stream),
            output_mode="append",
        )


def test_incremental_candles_fold_across_batches(tmp_path, spark):
    """The foreachBatch candle fold must merge state ACROSS micro-batches:
    4 time-split files (one per batch) folded through the candle monoid
    equal the batch aggregation exactly — including open/close tie-breaks
    for windows whose events span multiple batches."""
    import tempfile

    from pyspark.sql import functions as F

    from ohlc_spark_streaming_spark.operators.ohlc import (
        ohlc_candles,
        ohlc_finalize_partials,
        ohlc_merge_partial_states,
        ohlc_partial_candles,
    )

    src = str(tmp_path / "events_split")
    events = load_table(spark, SF_SMOKE, "events")
    # repartitionByRange: one part VALUE per file (hash repartition can
    # collide two values into one partition and yield only 3 files).
    events.withColumn("part", F.col("event_id") % 4).repartitionByRange(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    holder = {"state": None, "batches": 0}

    def fold(batch_df, _id):
        partial = ohlc_partial_candles(
            batch_df, ts_col="ts", symbol_col="event_type",
            price_col="value", qty_col=None, window_duration="1 hour",
        )
        cur = holder["state"]
        un = partial if cur is None else cur.unionByName(partial)
        holder["state"] = ohlc_merge_partial_states(un).localCheckpoint(
            eager=True
        )
        holder["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_ivm_t_"))
        .start()
    )
    q.awaitTermination()
    assert holder["batches"] == 4, holder["batches"]

    got = {
        (r["window_start"], r["symbol"]): r.asDict()
        for r in ohlc_finalize_partials(holder["state"]).collect()
    }
    want = {
        (r["window_start"], r["symbol"]): r.asDict()
        for r in ohlc_candles(
            events, ts_col="ts", symbol_col="event_type", price_col="value",
            qty_col=None, window_duration="1 hour",
        ).collect()
    }
    assert got == want


def test_stateful_transitions_carry_across_batches(tmp_path, spark):
    """stateful_transitions must form the boundary transition of batch
    N+1 against the last sighting of batch N — same 4-way time-range
    split harness as the gaps test; the transition multiset must equal
    the batch lead() window exactly."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W
    from ohlc_spark_streaming_spark.streaming.candles import run_to_memory
    from ohlc_spark_streaming_spark.streaming.stateful import (
        stateful_transitions,
    )

    src = tmp_path / "events_timesplit_tr"
    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    ranked = events.withColumn(
        "_q", F.ntile(4).over(W.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        part = ranked.where(F.col("_q") == i).drop("_q")
        path = src / f"part_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(path))
        t = time.time() - 400 + i * 100
        for root, _dirs, files in os.walk(path):
            for fname in files:
                os.utime(os.path.join(root, fname), (t, t))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part_*"))
    )
    log = run_to_memory(
        stateful_transitions(stream), output_mode="append"
    )

    got = sorted((r.from_type, r.to_type) for r in log.collect())
    want = sorted(
        (r.from_type, r.to_type)
        for r in events.select(
            F.col("event_type").alias("from_type"),
            F.expr(
                "lead(event_type) OVER (PARTITION BY user_id"
                " ORDER BY ts, event_id)"
            ).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .collect()
    )
    assert got == want
    assert len(got) > 0
