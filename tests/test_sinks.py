"""File-sink behavior: partitioned layout, small-file discipline, streaming
append sink with checkpointed commits."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.sinks.files import parquet_stream_writer, write_parquet
from ohlc_spark_streaming_spark.sources.batch import load_table
from ohlc_spark_streaming_spark.sources.stream import table_stream

from .conftest import SF_SMOKE


def test_partitioned_parquet_roundtrip(tmp_path, spark):
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, SF_SMOKE, "events")
    write_parquet(events, out, partition_by=["event_type"])

    # Hive-style directories, one file per partition dir (small-file
    # discipline: the pre-shuffle keyed by the partition column).
    dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/event_type=*"))
    assert len(dirs) == 5 and all(d.startswith("event_type=") for d in dirs)
    for d in glob.glob(f"{out}/event_type=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1

    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # Partition pruning: a filter on the partition column reads one dir.
    one = back.where(F.col("event_type") == "click")
    assert "click" in one._jdf.queryExecution().executedPlan().toString() or one.count() > 0


def test_streaming_parquet_sink(tmp_path, spark):
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    stream = table_stream(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type"
    )
    q = (
        parquet_stream_writer(stream, out, ckpt, query_name="pq_sink_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    assert back.count() == load_table(spark, SF_SMOKE, "events").count()
    # The file sink's commit log exists (exactly-once visibility).
    assert os.path.isdir(f"{out}/_spark_metadata")


def test_compact_parquet(tmp_path, spark):
    from ohlc_spark_streaming_spark.sinks.files import compact_parquet

    out = str(tmp_path / "many_files")
    events = load_table(spark, SF_SMOKE, "events")
    events.repartition(16).write.parquet(out)
    assert len(glob.glob(f"{out}/*.parquet")) == 16
    n = compact_parquet(spark, out, target_files=2)
    assert n == 2
    assert spark.read.parquet(out).count() == events.count()


def test_adaptive_source_fanout(spark):
    """parallelize=True must widen single-row-group scans above the size
    floor and leave small (broadcast-candidate) tables alone."""
    from ohlc_spark_streaming_spark.session import default_parallelism

    sf01 = "/root/testdata/sf0.1"
    wide = load_table(spark, sf01, "events", parallelize=True)
    assert wide.rdd.getNumPartitions() == default_parallelism()
    serial = load_table(spark, sf01, "events", parallelize=False)
    assert serial.rdd.getNumPartitions() == 1
    # region is tiny: no fan-out even when requested.
    dim = load_table(spark, sf01, "region", parallelize=True)
    assert dim.rdd.getNumPartitions() == 1


def test_python_datasource_parallel_and_deterministic(spark):
    """The custom Python DataSource must declare its partitioning (one
    task per InputPartition) and produce an identical tape on re-read."""
    from ohlc_spark_streaming_spark.sources.python_ds import (
        register_tick_source,
        tick_row,
    )

    register_tick_source(spark)
    read = (
        spark.read.format("synthetic_ticks")
        .option("partitions", "6")
        .option("rows_per_partition", "100")
    )
    df = read.load()
    assert df.rdd.getNumPartitions() == 6
    rows = sorted(map(tuple, df.collect()))
    assert rows == sorted(map(tuple, read.load().collect()))
    assert len(rows) == 600
    assert rows[:3] == [tick_row(0), tick_row(1), tick_row(2)]
