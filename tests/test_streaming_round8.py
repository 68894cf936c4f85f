"""Round-8 streaming additions: the transformWithStateInPandas registry
twins and the incremental rolling-7-day-active view.

The TWS twins share their pandas kernels and batch oracles with the legacy
applyInPandasWithState entries (streaming/stateful.py), so the strongest
cheap check is whole-pipeline equality between the two registry entries.
The rolling-active fold is checked for the property the registry sweep
can't see: state carried ACROSS micro-batches (4-file time-split tape).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark import registry
from ohlc_spark_streaming_spark._compat import ensure_protobuf
from ohlc_spark_streaming_spark.session import scoped_confs
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import ROCKSDB_CONFS, SF_SMOKE

needs_protobuf = pytest.mark.skipif(
    not ensure_protobuf(),
    reason="transformWithState needs google.protobuf and no pure-python "
    "runtime was found on this machine (_compat.ensure_protobuf)",
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@needs_protobuf
def test_tws_gaps_match_legacy_twin(spark):
    """streaming_interarrival_stats_tws equals the legacy
    applyInPandasWithState entry end-to-end (shared _gaps_emit kernel,
    shared percentile rollup)."""
    legacy = registry.QUERIES["streaming_interarrival_stats"](spark, SF_SMOKE)
    tws = registry.QUERIES["streaming_interarrival_stats_tws"](spark, SF_SMOKE)
    assert _rows(tws) == _rows(legacy)


@needs_protobuf
def test_tws_gaps_valuestate_equals_mapstate(spark):
    """The ValueState (per user-type group) and MapState (per user group,
    typed map of per-type last sightings) gap processors emit identical
    logs — the registry entry runs the MapState variant for ~|types|x
    fewer Arrow crossings; this pins the equivalence."""
    from ohlc_spark_streaming_spark.queries.streaming import _run_tws
    from ohlc_spark_streaming_spark.sources.stream import table_stream
    from ohlc_spark_streaming_spark.streaming.stateful import (
        tws_interarrival_gaps,
        tws_interarrival_gaps_mapstate,
    )

    val = _run_tws(
        spark,
        lambda: tws_interarrival_gaps(table_stream(spark, SF_SMOKE, "events")),
        "append",
    )
    mp = _run_tws(
        spark,
        lambda: tws_interarrival_gaps_mapstate(
            table_stream(spark, SF_SMOKE, "events")
        ),
        "append",
    )
    assert _rows(val) == _rows(mp)


@needs_protobuf
def test_tws_transitions_match_legacy_twin(spark):
    """streaming_transition_counts_tws equals the legacy entry end-to-end
    (shared _transitions_emit kernel)."""
    legacy = registry.QUERIES["streaming_transition_counts"](spark, SF_SMOKE)
    tws = registry.QUERIES["streaming_transition_counts_tws"](spark, SF_SMOKE)
    assert _rows(tws) == _rows(legacy)


@needs_protobuf
def test_tws_error_counts_match_batch(spark):
    """streaming_error_counts_tws equals the batch aggregate (monotonic
    emissions -> max-over-emissions contract on the typed-state API)."""
    got = registry.QUERIES["streaming_error_counts_tws"](spark, SF_SMOKE)
    want = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'error'")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    assert _rows(got) == _rows(want)


def test_rolling_active_fold_across_batches(tmp_path, spark):
    """The rolling-active island fold must merge state ACROSS micro-batches:
    a 4-file tape (users' activity recurring across files, one file per
    batch via maxFilesPerTrigger=1) folded through interval_union equals
    the batch sweep-line answer exactly — including islands whose activity
    spans multiple batches."""
    from ohlc_spark_streaming_spark.queries.streaming import (
        fold_rolling_active,
    )

    src = str(tmp_path / "events_split")
    events = load_table(spark, SF_SMOKE, "events")
    # repartitionByRange: one part VALUE per file (hash repartition can
    # collide two values into one partition and yield only 3 files);
    # event_id % 4 interleaves every user's timeline across all 4 batches.
    events.withColumn("part", F.col("event_id") % 4).repartitionByRange(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    got = fold_rolling_active(stream)
    want = registry.QUERIES["rolling_active_7d"](spark, SF_SMOKE)
    assert _rows(got) == _rows(want)


@needs_protobuf
def test_tws_state_survives_checkpoint_restart(tmp_path, spark):
    """ST8 for the typed-state API: transformWithStateInPandas state must
    persist in the checkpoint across query restarts. Run the running-count
    processor over one file, land a second file, restart from the SAME
    checkpoint — the restarted query processes ONLY the new file, and its
    emissions continue from the first run's counts (RocksDB state restored,
    no reprocessing)."""
    from pyspark.sql import functions as F
    from ohlc_spark_streaming_spark.streaming.stateful import tws_event_counts

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, SF_SMOKE, "events").where("event_type = 'error'")
    n_total = events.count()
    first = events.limit(n_total // 2)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once(tag):
        # foreachBatch parquet log: the memory sink can't recover from a
        # checkpoint; a foreachBatch sink can (offsets journaled, state
        # restored), which is the production shape anyway.
        out = str(tmp_path / f"log_{tag}")

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out)

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            tws_event_counts(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    with scoped_confs(spark, ROCKSDB_CONFS):
        log1 = run_once("tws_ckpt_run1")
        counts1 = {
            r.user_id: r.n_errors
            for r in log1.groupBy("user_id")
            .agg(F.max("n_errors").alias("n_errors"))
            .collect()
        }
        # Second file lands; restart from the same checkpoint.
        events.exceptAll(first).coalesce(1).write.mode("append").parquet(src)
        log2 = run_once("tws_ckpt_run2")

    # Run 2 saw only the delta: its emission log covers just the keys in
    # the new file (strictly fewer emissions than a full reprocess).
    keys2 = {r.user_id for r in log2.select("user_id").distinct().collect()}
    delta_keys = {
        r.user_id
        for r in events.exceptAll(first).select("user_id").distinct().collect()
    }
    assert keys2 == delta_keys
    # ...and its counts CONTINUE from run 1's state: final = batch truth.
    finals = dict(counts1)
    for r in (
        log2.groupBy("user_id").agg(F.max("n_errors").alias("n_errors")).collect()
    ):
        finals[r.user_id] = r.n_errors
    want = {
        r.user_id: r.n
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert finals == want


@needs_protobuf
def test_tws_ttl_requires_processing_time_mode(tmp_path, spark):
    """Pin the typed-state TTL contract this sandbox can actually observe:
    ttlDurationMs under timeMode=None is rejected by the state server
    (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL). A positive
    expiry test is NOT runnable here — in ProcessingTime mode the TWS
    operator keeps scheduling clock-advancing micro-batches, so neither
    trigger(availableNow) nor processAllAvailable() ever drains a bounded
    tape (verified empirically; the operator runs forever on empty
    batches). TTL at scale is exercised by long-lived queries, which this
    harness cannot host."""
    import pandas as _pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _TtlCount(StatefulProcessor):
        def init(self, handle):
            self._cnt = handle.getValueState("cnt", "cnt long", ttlDurationMs=1)

        def handleInputRows(self, key, rows, timerValues):
            cnt = self._cnt.get()[0] if self._cnt.exists() else 0
            for pdf in rows:
                cnt += len(pdf)
            self._cnt.update((cnt,))
            yield _pd.DataFrame({"user_id": [key[0]], "n_errors": [cnt]})

        def close(self):
            pass

    src = str(tmp_path / "src")
    events = load_table(spark, SF_SMOKE, "events").where("event_type = 'error'")
    events.limit(50).coalesce(1).write.mode("overwrite").parquet(src)

    with scoped_confs(spark, ROCKSDB_CONFS):
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            stream.groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=_TtlCount(),
                outputStructType="user_id long, n_errors long",
                outputMode="Update",
                timeMode="None",  # <- TTL is illegal here
            )
            .writeStream.format("memory")
            .queryName("tws_ttl_reject")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            with pytest.raises(Exception, match="TIME_MODE_TO_ASSIGN_TTL|TTL"):
                q.awaitTermination()
        finally:
            q.stop()


@needs_protobuf
def test_tws_driver_checkable_on_plain_session():
    """THE driver-checkability claim for the *_tws registry entries: a
    PLAIN SparkSession (no engine confs, no pre-set PYTHONPATH — exactly
    the correctness driver's environment) must still run a TWS query and
    match its DuckDB oracle, because ensure_protobuf_for_session ships
    the worker shim through sc.environment at UDF-creation time. Run in a
    clean subprocess so the parent pytest session's env can't leak in."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import sys
sys.path.insert(0, %r); sys.path.insert(1, %r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as E
import oracle_utils as OU
qs, osql = E.queries(), E.oracle_sql()
name = "streaming_error_counts_tws"
OU.compare_query_to_oracle(spark, qs[name], osql[name], "/root/testdata/sf0.001")
print("TWS_PLAIN_MATCH")
""" % (repo, os.path.join(repo, "tests"))
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
    }
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert "TWS_PLAIN_MATCH" in out.stdout, out.stderr[-2000:]


def test_rolling_active_state_is_islands_not_raw_days(spark):
    """The fold's state stays bounded by MERGED islands: contiguous
    activity collapses, so state rows <= distinct (user, day) pairs, with
    strict inequality whenever any user has activity on touching days."""
    from ohlc_spark_streaming_spark.operators.sessions import interval_union

    events = load_table(spark, SF_SMOKE, "events")
    epoch = F.lit("1970-01-01").cast("date")
    days = events.select(
        "user_id", F.datediff(F.col("ts").cast("date"), epoch).alias("d")
    ).distinct()
    n_days = days.count()
    islands = interval_union(
        days.select("user_id", F.col("d").alias("st"), (F.col("d") + 6).alias("en")),
        key_col="user_id",
        start_col="st",
        end_col="en",
    )
    n_islands = islands.count()
    assert n_islands <= n_days
    # sf0.001 has users active on nearby days -> real merging happened.
    assert n_islands < n_days


def test_decontaminate_fold_across_batches(tmp_path, spark):
    """The ingest decontamination fold must sum per-source counts ACROSS
    micro-batches: a 4-file train-doc tape (doc_id % 4 interleaves every
    source across all 4 batches, one file per batch) folded through the
    eval-gram gate equals the batch oracle twin exactly."""
    from ohlc_spark_streaming_spark.queries.streaming import (
        _DECON_SRC,
        build_eval_grams,
        fold_decontaminate,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    eval_grams = build_eval_grams(docs)

    src = str(tmp_path / "docs_split")
    train = docs.where(F.col("source") != _DECON_SRC)
    train.withColumn("part", F.col("doc_id") % 4).repartitionByRange(
        4, "part"
    ).drop("part").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    got = fold_decontaminate(stream, eval_grams.df)
    want = registry.QUERIES["streaming_decontaminate"](spark, SF_SMOKE)
    assert _rows(got) == _rows(want)
