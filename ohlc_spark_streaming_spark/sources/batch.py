"""Batch sources: parquet table loaders over the driver testdata layout.

The reference has no file sources at all (Kafka in, Kafka out —
``/root/reference/main.py:77-87,208-217``); parquet is our batch twin so the
same operators can be driven by the DuckDB oracle (``/root/repo/TESTDATA.md``).

Scale notes: loaders return plain ``spark.read.parquet`` DataFrames —
column pruning and predicate pushdown reach the scan because we never
materialize or cache here. The only non-declarative step is the events
timestamp normalization, which is a single projected expression (stays in
whole-stage codegen).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_engine_confs


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _scan_splits(path: str) -> int:
    """Number of task splits a parquet scan of ``path`` can yield.

    Parquet tasks can't subdivide a row group, so a file's split count is
    its row-group count (summed over files for a directory). Metadata-only
    read — column data stays untouched.
    """
    try:
        import pyarrow.parquet as pq

        paths = [path]
        if os.path.isdir(path):
            paths = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        return sum(pq.ParquetFile(p).num_row_groups for p in paths) or 1
    except Exception:
        return 1_000_000  # unknown layout: assume splittable, don't repartition


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Load one testdata table, normalizing engine-visible types.

    ``events.ts`` is parquet TIMESTAMP(NANOS) which Spark reads (only) as a
    nanosecond long under ``spark.sql.legacy.parquet.nanosAsLong``; we
    convert to TIMESTAMP_NTZ at microsecond precision — exactly what DuckDB
    surfaces for the same file, so oracle comparisons agree.

    Adaptive source parallelization (``parallelize=True``, opt-in): a scan
    can't run wider than the file's row-group count, and the driver
    testdata is single-row-group — every scan would otherwise execute on
    ONE core and serialize all narrow work above it. When the splittable
    width is below the session's parallelism, insert one round-robin
    repartition to fan the table out. Opt-in, not default: it pays a full
    shuffle of the table, which only wins when the per-row work above the
    scan is expensive (JSON parsing, shingle hashing) — cheap scan+agg
    plans are faster serial-scan + tiny partial-agg shuffle. At real scale
    (files x row-groups >> cores) it is a no-op either way, so plans keep
    pushdown-friendly bare scans.
    """
    apply_engine_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    if parallelize:
        from ..session import default_parallelism

        target = default_parallelism()
        # Small tables stay single-partition: they are broadcast-join
        # candidates and a shuffle would only add a stage. 512 KiB on disk
        # ≈ a few MB in memory — far below any broadcast threshold.
        if _file_bytes(path) >= 512 * 1024 and _scan_splits(path) < max(
            2, target // 2
        ):
            df = df.repartition(target)
    return df


def _file_bytes(path: str) -> int:
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return os.path.getsize(path)
    except OSError:
        return 0
