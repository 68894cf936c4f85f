"""Scale-discipline checks: bucketed co-located joins, RocksDB state
store, and the reference's multi-query concurrency pattern (SURVEY §2.9
ST5, §4.2). These verify the mechanisms a 100 TB deployment leans on,
exercised at smoke scale."""

from __future__ import annotations

import pytest
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


def test_bucketed_join_avoids_shuffle(spark):
    """Tables bucketed on the join key co-locate: the sort-merge join plan
    contains NO shuffle exchange — at 100 TB this removes the dominant
    cost of a big-big join. (Bucket co-location is the persisted-table twin
    of repartition-before-join. Managed tables land in the session's
    default warehouse dir and are dropped on exit.)"""
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    for name, df, key in (
        ("b_orders", orders, "o_custkey"),
        ("b_customer", customer, "c_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(4, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )
    # Disable auto-broadcast so the join would otherwise shuffle both sides.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            spark.table("b_orders").o_custkey
            == spark.table("b_customer").c_custkey,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # And it still computes the right thing.
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_rocksdb_state_store_parity(spark):
    """The RocksDB state store (the 100 TB keyspace choice, SURVEY §4.2)
    produces the same streaming answer as the default HDFS-backed store."""
    with scoped_confs(spark, ROCKSDB_CONFS):
        out = run_to_memory(
            streaming_ohlc_candles(
                table_stream(spark, SF_SMOKE, "events"),
                watermark_delay="2 minutes",
                **KW,
            ),
            output_mode="complete",
        )
    batch = ohlc_candles(load_table(spark, SF_SMOKE, "events"), **KW)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_concurrent_streaming_queries(spark):
    """The reference runs 5 concurrent queries over one source
    (/root/reference/main.py:98-216); verify independent concurrent
    incremental plans + awaitAnyTermination semantics."""
    # awaitAnyTermination re-raises the failure of any query this session
    # already ran; forget earlier (deliberately failed) queries first.
    spark.streams.resetTerminated()
    stream = table_stream(spark, SF_SMOKE, "events")
    candles = streaming_ohlc_candles(stream, watermark_delay="2 minutes", **KW)
    raw_tap = stream.select("event_id", "ts", "event_type")

    q1 = (
        candles.writeStream.format("memory")
        .queryName("concurrent_candles")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2 = (
        raw_tap.writeStream.format("memory")
        .queryName("concurrent_tap")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    spark.streams.awaitAnyTermination()
    q1.awaitTermination()
    q2.awaitTermination()
    spark.streams.resetTerminated()
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert spark.table("concurrent_tap").count() == n_events
    assert spark.table("concurrent_candles").count() > 0


def test_asof_hot_key_bucketed_equivalence(spark):
    """As-of join under key skew: one hot symbol carries 100x the quotes
    of each cold one. The plain as-of puts the whole hot key in ONE
    window partition (AQE only splits skewed sort-merge-join partitions,
    never window partitions), so the scale path is asof_join_bucketed,
    whose partitions are (key, time bucket). Assert (a) exact result
    equivalence on the skewed corpus, (b) the bucketed plan really
    windows on the bucket column."""
    from datetime import datetime, timedelta

    from ohlc_spark_streaming_spark.operators.joins import (
        asof_join,
        asof_join_bucketed,
    )

    t0 = datetime(2024, 1, 1)
    quotes = [
        ("HOT", t0 + timedelta(seconds=7 * i), float(i % 97)) for i in range(2000)
    ] + [
        (sym, t0 + timedelta(seconds=600 * i), float(i))
        for sym in ("COLD_A", "COLD_B")
        for i in range(20)
    ]
    trades = [
        (sym, t0 + timedelta(seconds=13 * i + 3), 1.0 + i)
        for sym in ("HOT", "COLD_A", "COLD_B")
        for i in range(150)
    ]
    qdf = spark.createDataFrame(quotes, "symbol string, ts timestamp, quote double")
    tdf = spark.createDataFrame(trades, "symbol string, ts timestamp, qty double")

    kw = dict(
        on=["symbol"], left_ts="ts", right_ts="ts", right_payload=["quote"]
    )
    plain = asof_join(tdf, qdf, **kw)
    bucketed = asof_join_bucketed(tdf, qdf, bucket_seconds=300, **kw)

    cols = sorted(plain.columns)
    assert sorted(bucketed.columns) == cols
    a = sorted(map(tuple, plain.select(*cols).collect()))
    b = sorted(map(tuple, bucketed.select(*cols).collect()))
    assert a == b
    assert len(a) == 450

    # Hot rows really spread: the bucketed window partitions on _bkt.
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan
    # And the hot key spans many buckets at this bucket size.
    n_hot_buckets = (
        qdf.where(F.col("symbol") == "HOT")
        .select((F.unix_seconds(F.col("ts").cast("timestamp")) / 300).cast("long"))
        .distinct()
        .count()
    )
    assert n_hot_buckets > 40


def test_asof_bucketed_inner_and_unmatched(spark):
    """how='inner' drops unmatched left rows; how='left' keeps them with
    null payloads — including left rows in buckets with no right rows at
    all (the carry-in path) and before any right row exists."""
    from datetime import datetime

    from ohlc_spark_streaming_spark.operators.joins import asof_join_bucketed

    ts = lambda h, m=0: datetime(2024, 3, 1, h, m)  # noqa: E731
    right = spark.createDataFrame(
        [("A", ts(1), 10.0), ("A", ts(2), 20.0)],
        "k string, ts timestamp, v double",
    )
    left = spark.createDataFrame(
        [
            ("A", ts(0, 30), 1.0),   # before any right row -> null
            ("A", ts(1, 30), 2.0),   # intra-bucket? no: bucket of 01:30 has no right row if 30-min buckets... use carry
            ("A", ts(9), 3.0),       # far later bucket -> carry-in = 20.0
            ("B", ts(5), 4.0),       # key with no right rows at all
        ],
        "k string, ts timestamp, q double",
    )
    kw = dict(on=["k"], left_ts="ts", right_ts="ts", right_payload=["v"],
              bucket_seconds=1800)
    out = {
        (r.k, r.ts): r.asof_v
        for r in asof_join_bucketed(left, right, how="left", **kw).collect()
    }
    assert out[("A", ts(0, 30))] is None
    assert out[("A", ts(1, 30))] == 10.0
    assert out[("A", ts(9))] == 20.0
    assert out[("B", ts(5))] is None

    inner = asof_join_bucketed(left, right, how="inner", **kw).collect()
    assert {(r.k, r.ts) for r in inner} == {("A", ts(1, 30)), ("A", ts(9))}


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """At 100 TB the dim side can exceed the broadcast threshold; Spark's
    runtime row-level filtering then injects a bloom filter built from the
    selective dim keys into the FACT scan side (InjectRuntimeFilter). This
    pins the conditions under which it fires on this engine: shuffle join
    (no broadcast), creation side selective, thresholds permitting — so a
    100 TB deployment knows the knob exists and works."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # test-scale data is far below the 10 GB application-side default
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        # force the shuffle join: broadcast joins don't need a runtime filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select("l_extendedprice")
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt[:2000]
        assert "might_contain" in opt, opt[:2000]
        # and the result is unaffected by the filter (it only prunes)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert j.count() == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
