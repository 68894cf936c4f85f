"""Distributed global rank / ntile (operators.ranking): bit-parity with
the single-partition window functions they replace, at any partitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.operators.ranking import (
    ntile_expr,
    with_global_rank,
)
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def test_global_rank_matches_window_row_number(spark):
    e = load_table(spark, SF_SMOKE, "events").select("value", "event_id")
    got = with_global_rank(e, ["value", "event_id"], rank_col="rn")
    w = Window.orderBy("value", "event_id")
    want = e.withColumn("rn", F.row_number().over(w).cast("long"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_global_rank_total_col(spark):
    e = load_table(spark, SF_SMOKE, "events").select("value", "event_id")
    n = e.count()
    out = with_global_rank(e, ["value", "event_id"], total_col="total")
    totals = out.select("total").distinct().collect()
    assert [r["total"] for r in totals] == [n]
    mx = out.agg(F.max("rn").alias("m")).collect()[0]["m"]
    assert mx == n


@pytest.mark.parametrize("n_rows,n_buckets", [(97, 10), (100, 10), (7, 10), (64, 7)])
def test_ntile_expr_matches_window_ntile(spark, n_rows, n_buckets):
    df = spark.range(n_rows).select(
        (F.col("id") * 37 % 101).alias("v"), F.col("id")
    )
    ranked = with_global_rank(df, ["v", "id"], total_col="tot")
    got = ranked.select(
        "v", "id", ntile_expr("rn", "tot", n_buckets).alias("b")
    )
    w = Window.orderBy("v", "id")
    want = df.select("v", "id", F.ntile(n_buckets).over(w).alias("b"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_with_group_rank_matches_window(spark):
    """with_group_rank must equal Window.partitionBy(...).row_number()
    exactly, including under a heavily dominant group."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ohlc_spark_streaming_spark.operators.ranking import with_group_rank

    rows = [(i, "hot" if i % 10 != 9 else f"cold{i % 3}", (i * 37) % 101)
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp string, v long").repartition(8)
    got = {
        (r.grp, r.id): r.rn
        for r in with_group_rank(df, ["grp"], ["v", "id"]).collect()
    }
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = {
        (r.grp, r.id): r.rn
        for r in df.withColumn("rn", F.row_number().over(w).cast("long")).collect()
    }
    assert got == want


def test_with_group_rank_keeps_null_group(spark):
    """A NULL group key is a group like any other (Window.partitionBy
    semantics) — the broadcast min-rank join must be null-safe."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ohlc_spark_streaming_spark.operators.ranking import with_group_rank

    rows = [(1, "a", 10), (2, "a", 5), (3, None, 7), (4, None, 2)]
    df = spark.createDataFrame(rows, "id long, grp string, v long")
    got = with_group_rank(df, ["grp"], ["v", "id"]).collect()
    assert len(got) == 4  # no rows dropped
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(w).cast("long")
        ).collect()
    }
    assert {r.id: r.rn for r in got} == want
