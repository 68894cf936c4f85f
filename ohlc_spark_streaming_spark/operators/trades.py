"""Trade-message operators: the reference's parse → cast → derive pipeline.

Reference stages (all in ``/root/reference/main.py``):

* P2  JSON parse:      ``select(topic, from_json(cast(value as string), schema))``
  (``main.py:102-105``),
* P3  struct expansion (``main.py:109``) — folded into P4, which reads
  the struct's fields directly,
* P4  typed projection: string→long→timestamp for ``timestamp``,
  string→double for ``price``/``quantity`` (``main.py:119-126``),
* P5  null guard: rows whose timestamp fails to parse are dropped
  (``main.py:127``) — the reference's entire error-handling strategy,
* P6  base derivation: ``CASE WHEN topic RLIKE … THEN regexp_extract(…)
  ELSE from_symbol END`` (``main.py:131-136``).

Engine notes: Spark 4 runs under ANSI mode by default, where a malformed
``cast`` *throws* instead of yielding null; we use ``try_cast`` so the
observable semantics (bad rows silently dropped) match the reference
regardless of the session's ANSI setting. Event time is surfaced as
TIMESTAMP_NTZ (UTC wall-clock) for oracle determinism.

All functions are pure DataFrame→DataFrame — narrow projections/filters that
stay inside whole-stage codegen; nothing here shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TRADE_WIRE_SCHEMA

#: The reference's topic→base regex (main.py:134), group 1.
BASE_TOPIC_REGEX = r"parsed-trades-([^\-]+)-usdt"
BASE_TOPIC_PREDICATE = r"parsed-trades-.+-usdt"


def parse_trades(raw: DataFrame, schema: T.StructType = TRADE_WIRE_SCHEMA) -> DataFrame:
    """P2: parse the Kafka ``value`` payload into a typed struct column.

    Input contract: columns ``topic`` (string) and ``value``
    (binary or string). Malformed JSON yields a null struct (PERMISSIVE),
    exactly as the reference relies on.
    """
    return raw.select(
        F.col("topic"),
        F.from_json(F.col("value").cast("string"), schema).alias("data"),
    )


def typed_trades(parsed: DataFrame) -> DataFrame:
    """P4+P5: cast to typed columns and drop rows with unparseable time.

    ``timestamp`` on the wire is epoch *seconds* as a string
    (main.py:124) — 1-second resolution is what makes the OHLC tie-break
    semantics observable (SURVEY.md §2.4).
    """
    epoch = F.expr("try_cast(data.timestamp AS long)")
    return (
        parsed.select(
            F.col("topic"),
            F.col("data.from_symbol").alias("from_symbol"),
            F.col("data.to_symbol").alias("to_symbol"),
            F.from_unixtime(epoch).cast("timestamp_ntz").alias("timestamp"),
            F.expr("try_cast(data.price AS double)").alias("price"),
            F.expr("try_cast(data.quantity AS double)").alias("quantity"),
        )
        .where(F.col("timestamp").isNotNull())
    )


def base_symbol_expr() -> Column:
    """P6: derive the base symbol from the topic, falling back to
    ``from_symbol`` when the topic doesn't match (main.py:131-136)."""
    return F.when(
        F.col("topic").rlike(BASE_TOPIC_PREDICATE),
        F.regexp_extract(F.col("topic"), BASE_TOPIC_REGEX, 1),
    ).otherwise(F.col("from_symbol"))


def derive_base(trades: DataFrame) -> DataFrame:
    return trades.withColumn("base", base_symbol_expr())


def trades_from_wire(raw: DataFrame) -> DataFrame:
    """Full wire → typed pipeline: parse, cast, null-guard, derive base."""
    return derive_base(typed_trades(parse_trades(raw)))


def serialize_candles(
    candles: DataFrame, output_prefix: str, quote: str = "usdt"
) -> DataFrame:
    """P7+P8: candle rows → Kafka sink rows with per-row topic routing.

    Mirrors main.py:173-188: ``topic = prefix || base || '-usdt'``,
    ``key = base``, ``value`` = JSON candle. Expects the OHLC output
    contract columns (operators.ohlc.OHLC_COLUMNS with symbol→base naming
    handled here).
    """
    return candles.select(
        F.concat(F.lit(output_prefix), F.col("symbol"), F.lit(f"-{quote}")).alias(
            "topic"
        ),
        F.col("symbol").cast("string").alias("key"),
        F.to_json(
            F.struct(
                F.col("symbol").alias("base"),
                F.col("window_start").alias("start_ts"),
                F.col("window_end").alias("end_ts"),
                F.col("open"),
                F.col("high"),
                F.col("low"),
                F.col("close"),
                F.col("volume"),
            )
        ).alias("value"),
    )
