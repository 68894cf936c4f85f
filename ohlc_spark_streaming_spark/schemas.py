"""Schema registry.

The reference declares exactly one schema — the 14-field all-strings trade
message (``/root/reference/main.py:48-67``; numerics arrive as JSON strings
and are cast after parsing, ``main.py:119-126``). We keep that schema
verbatim-in-spirit plus the names of the testdata tables
(``FIXTURES.md`` §C). The typed-trade and candle column
contracts live with their operators (operators/trades.py,
operators/ohlc.py ``OHLC_COLUMNS``).

Schemas are explicit everywhere — no inference on the hot path. At 100 TB,
schema inference means an extra pass over data; a declared schema is free.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Reference wire formats -------------------------------------------------

#: Raw trade JSON message: every field is a string on the wire
#: (reference: /root/reference/main.py:48-67).
TRADE_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("market", T.StringType()),
        T.StructField("from_symbol", T.StringType()),
        T.StructField("to_symbol", T.StringType()),
        T.StructField("flags", T.StringType()),
        T.StructField("trade_id", T.StringType()),
        T.StructField("timestamp", T.StringType()),  # epoch seconds as string
        T.StructField("quantity", T.StringType()),
        T.StructField("price", T.StringType()),
        T.StructField("total_value", T.StringType()),
        T.StructField("received_ts", T.StringType()),
        T.StructField("ccseq", T.StringType()),
        T.StructField("timestamp_ns", T.StringType()),
        T.StructField("received_ts_ns", T.StringType()),
    ]
)

# --- Driver testdata tables (FIXTURES.md §C) --------------------------------

#: Names of the testdata tables under /root/testdata/sf*/.
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
