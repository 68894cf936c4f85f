"""Source behavior: adaptive scan fan-out of the parquet table loader and
the partitioning and determinism of the Python DataSource tick reader."""

from __future__ import annotations

import os

from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_CORRECTNESS


def test_adaptive_source_fanout(spark):
    """parallelize=True must widen single-row-group scans above the size
    floor and leave small (broadcast-candidate) tables alone."""
    from ohlc_spark_streaming_spark.session import default_parallelism

    sf01 = os.path.join(os.path.dirname(SF_CORRECTNESS), "sf0.1")
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
