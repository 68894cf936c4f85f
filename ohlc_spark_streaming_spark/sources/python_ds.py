"""Custom read connector via the Spark 4 Python DataSource API (SURVEY
§2.1 breadth beyond the reference's Kafka/parquet surface).

``SyntheticTickSource`` is a pure-Python source, batch and streaming, that
generates a deterministic tick tape: each partition emits a contiguous
``tick_id`` range, and every column is a CLOSED-FORM function of
``tick_id`` — no per-partition sequential state — so

* the read is embarrassingly parallel (one task per declared partition,
  no coordination, the shape a 100 TB connector needs), and
* a DuckDB oracle can replay the exact same rows from ``range()``
  (queries/llm.py:pyds_tick_summary and the streaming twin
  queries/streaming.py:pyds_stream_tick_summary) — the connector itself
  is under the value-hash gate like every operator.

The multiplier is Knuth's 2654435761 (golden-ratio hash); the modulus
2147483647 = 2³¹−1 keeps everything in exact int64 on both engines.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

MULT = 2654435761
MOD = 2147483647
N_SYMBOLS = 5
PRICE_CENTS_MOD = 1_000_000


def tick_row(i: int) -> tuple[int, str, float]:
    """The closed-form row for tick ``i`` (shared by reader and tests)."""
    h = (i * MULT) % MOD
    return (i, f"SYM{h % N_SYMBOLS}", (h % PRICE_CENTS_MOD) / 100.0)


class _TickReader(DataSourceReader):
    def __init__(self, options):
        self.rows_per_partition = int(options.get("rows_per_partition", 500))
        self.n_partitions = int(options.get("partitions", 8))

    def partitions(self):
        return [InputPartition(i) for i in range(self.n_partitions)]

    def read(self, partition):
        base = partition.value * self.rows_per_partition
        for j in range(self.rows_per_partition):
            yield tick_row(base + j)


class _TickStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of the tick tape: offsets are plain row indices
    into the SAME closed-form sequence, so any batching (one micro-batch
    or fifty) replays identical rows — exactly what checkpoint recovery
    demands of a real streaming connector. ``read(start)`` hands out the
    next ``rows_per_batch`` rows and advances the offset; past
    ``total_rows`` it returns an empty batch with an unchanged offset,
    which is the "no new data" signal ``processAllAvailable()`` needs to
    terminate a bounded drive."""

    def __init__(self, options):
        self.total = int(options.get("total_rows", 2000))
        self.chunk = int(options.get("rows_per_batch", 600))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i = start["i"]
        if i >= self.total:
            return (iter([]), start)
        end = min(i + self.chunk, self.total)
        return (iter([tick_row(j) for j in range(i, end)]), {"i": end})

    def readBetweenOffsets(self, start, end):
        # Replay path (failure recovery): offsets fully determine rows.
        return iter([tick_row(j) for j in range(start["i"], end["i"])])


class SyntheticTickSource(DataSource):
    """``spark.read.format("synthetic_ticks")`` — options:
    ``partitions`` (default 8), ``rows_per_partition`` (default 500).
    Also streamable: ``spark.readStream.format("synthetic_ticks")`` with
    ``total_rows`` / ``rows_per_batch`` (micro-batch offsets are row
    indices into the same closed-form tape)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_ticks"

    def schema(self) -> str:
        return "tick_id bigint, symbol string, price double"

    def reader(self, schema):
        return _TickReader(self.options)

    def simpleStreamReader(self, schema):
        return _TickStreamReader(self.options)


def register_tick_source(spark) -> None:
    """Idempotently register the connector with a session."""
    spark.dataSource.register(SyntheticTickSource)


def tick_oracle_sql(n_total: int) -> str:
    """DuckDB replay of the connector's closed-form tape."""
    return f"""
SELECT i AS tick_id,
       'SYM' || CAST((i * {MULT}) % {MOD} % {N_SYMBOLS} AS VARCHAR) AS symbol,
       ((i * {MULT}) % {MOD} % {PRICE_CENTS_MOD}) / 100.0 AS price
FROM (SELECT unnest(range(0, {n_total})) AS i)
"""
