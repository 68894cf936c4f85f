"""File-based streaming sources — the batch tables replayed as streams.

No Kafka broker exists in the test environment, so the streaming layer is
exercised through Spark's file source: the same parquet rows, delivered as
an unbounded-looking stream (SURVEY.md §5.2.3 batch↔stream parity). On a
real deployment the Kafka reader (sources.kafka) slots into the same
pipeline functions.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_engine_confs


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Stream one table of an sf dir from parquet, one file per micro-batch.

    ``maxFilesPerTrigger=1`` keeps micro-batches bounded; the file source
    checkpoints file names, so semantics mirror a replayed Kafka topic.
    The file source requires a directory, so ``pathGlobFilter`` narrows
    the sf dir down to ``<table>.parquet``.

    The readStream schema is taken from the file's own footer (a
    metadata-only batch read) rather than hardcoded: driver testdata has
    shipped events' ``ts`` both as parquet TIMESTAMP(NANOS) — surfaced as
    a nanosecond long under ``spark.sql.legacy.parquet.nanosAsLong`` — and
    as TIMESTAMP(MICROS); a fixed long-typed schema silently misreads the
    micros variant 1000x off, which moves every event inside any join
    band. A ``ts`` column is normalized as sources/batch.py does it.
    Tables without one (documents, embeddings) have no event time, so
    their consumers aggregate in complete/update mode or fold per batch
    rather than use watermarks.
    """
    apply_engine_confs(spark)
    schema = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    # Watermarks require TIMESTAMP (not NTZ); with the session pinned to
    # UTC this is the same wall-clock instant as the batch twin's NTZ view.
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type is None:
        return raw
    if ts_type == "bigint":  # nanosecond long → truncate to micros
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def one_row_frame(spark: SparkSession, row: tuple, schema: str) -> DataFrame:
    """A SINGLE-PARTITION one-row DataFrame — the sentinel-frame builder.

    Round-13 optimization (guide §4 — the Python boundary, measured):
    ``createDataFrame([row])`` spreads even one row over
    defaultParallelism Python-backed partitions, and replay_tape's
    ``coalesce(1)`` then evaluates those Python workers SEQUENTIALLY in
    a single task — 6–7 s per 1-row sentinel write at local[32] (11–14 s
    of the anti/full-outer tape queries' wall time). A 1-slice
    parallelize keeps the row in one partition and one worker: the same
    write is ~0.5 s."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize([row], 1), schema
    )


@contextlib.contextmanager
def replay_tape(base_df: DataFrame, sentinel_dfs: list[DataFrame]):
    """Bounded event-time REPLAY TAPE: a temp directory holding
    ``base_df`` as the base slab plus one parquet file PER sentinel
    frame, mtime-stamped strictly after the base and in argument order;
    yields the tape path and guarantees removal.

    This helper owns the replay invariants the tape-based queries
    (session timers, anti join) learned the hard way, so the next one
    doesn't rediscover them:

    * The file source replays in MTIME order and two write jobs can
      land in the same mtime instant — base files are pinned to a fixed
      epoch, each sentinel file strictly later. (With the whole tape in
      one availableNow batch the order is moot — the stamping is
      defense-in-depth for any reader that sets maxFilesPerTrigger.)
    * Sentinels are SEPARATE FILES: per-file readers evict with the
      watermark of the PREVIOUS batch, so a closing sentinel that
      shares the base file never gets its watermark used.
    * Sentinel CONTENT is the caller's contract: rows must survive
      every scan-pushed predicate to reach the watermark nodes
      (positive non-existent keys, event_type admitted by the side
      filters — see q_streaming_anti_join's pushdown-starvation note).
    """
    tape = tempfile.mkdtemp(prefix="replay_tape_")
    try:
        base_df.coalesce(1).write.mode("append").parquet(tape)
        seen = {f for f in os.listdir(tape) if f.endswith(".parquet")}
        base = set(seen)
        for i, sdf in enumerate(sentinel_dfs, start=1):
            sdf.coalesce(1).write.mode("append").parquet(tape)
            new = {
                f
                for f in os.listdir(tape)
                if f.endswith(".parquet") and f not in seen
            }
            for f in new:
                os.utime(os.path.join(tape, f), (1_000_000 + 10 * i,) * 2)
            seen |= new
        for f in base:
            os.utime(os.path.join(tape, f), (1_000_000,) * 2)
        yield tape
    finally:
        shutil.rmtree(tape, ignore_errors=True)
