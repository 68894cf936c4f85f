"""Streaming queries exposed through the driver contract.

Each runs a genuine Structured Streaming query (file source → watermarked
windowed aggregation → memory sink) to completion with
``trigger(availableNow=True)`` and returns the final table. The flagship
streaming candle query reuses the batch OHLC oracle: complete-mode output
over a bounded replay must equal the batch answer exactly — streaming
correctness is hash-checked, not eyeballed (unlike the reference's console
sinks, /root/reference/main.py:90-99)."""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sessions import session_aggregate
from ..registry import register
from ..session import default_parallelism, scoped_confs
from ..sources.batch import load_table
from ..sources.stream import one_row_frame, replay_tape, table_stream
from ..streaming.candles import run_to_memory, streaming_ohlc_candles
from ..streaming.checkpoints import fold_stream, stream_start
from ..streaming.dedup import distinct_keys
from ..streaming.joins import interval_join
from ._oracles import OHLC_ORACLE as _OHLC_ORACLE

_counter = itertools.count()

#: Watermark delay (seconds) for the session-timer replay tape — shared
#: by the withWatermark call and the sentinel-row offset so the two can
#: never drift apart.
_SESSION_WM_DELAY_S = 120


def _python_state_partitions() -> int:
    """State partitions for a Python-state drain (applyInPandasWithState,
    transformWithStateInPandas): sized for Arrow-worker parallelism, never
    below 8."""
    return max(8, default_parallelism() // 2)


@register("streaming_ohlc_candles", _OHLC_ORACLE)
def q_streaming_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the flagship: events replayed as a file stream,
    watermark + tumbling hourly window, complete output mode, availableNow.

    Same aggregate expressions as the batch operator (by construction), so
    the batch oracle applies verbatim."""
    stream = table_stream(spark, sf_dir, "events")
    candles = streaming_ohlc_candles(
        stream,
        ts_col="ts",
        symbol_col="event_type",
        price_col="value",
        qty_col=None,
        window_duration="1 hour",
        watermark_delay="2 minutes",
    )
    return run_to_memory(candles, output_mode="complete")


# Sliding candles: every event lands in duration/slide = 2 windows; the
# oracle replays the expansion with an explicit offset cross join
# (time_bucket is 30-minute epoch-aligned, as is Spark's window()).
_SLIDING_ORACLE = """
WITH shifted AS (
  SELECT e.*,
         time_bucket(INTERVAL 30 MINUTE, ts) - o.off * INTERVAL 30 MINUTE
           AS window_start
  FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS off) o
)
SELECT
  window_start,
  window_start + INTERVAL 1 HOUR                AS window_end,
  event_type                                    AS symbol,
  min(struct_pack(t := ts, p := value)).p       AS open,
  max(value)                                    AS high,
  min(value)                                    AS low,
  max(struct_pack(t := ts, p := value)).p       AS close,
  CAST(count(*) AS DOUBLE)                      AS volume,
  count(*)                                      AS n_trades
FROM shifted
GROUP BY 1, 2, 3
"""


@register("ohlc_sliding_candles", _SLIDING_ORACLE)
def q_ohlc_sliding_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window OHLCV: 1-hour candles every 30 minutes. Spark expands
    each event into its 2 windows before the hash aggregation; per-group
    state stays O(1)."""
    from ..operators.ohlc import ohlc_candles

    events = load_table(spark, sf_dir, "events")
    return ohlc_candles(
        events,
        ts_col="ts",
        symbol_col="event_type",
        price_col="value",
        qty_col=None,
        window_duration="1 hour",
        slide="30 minutes",
    )


# Session windows: gaps-and-islands oracle. Split when diff >= gap (Spark
# session windows are end-exclusive [first, last + gap)); end = last + gap.
_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT
  min(ts)                                           AS session_start,
  max(ts) + INTERVAL 4 HOUR                         AS session_end,
  user_id,
  count(*)                                          AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, sid
"""


@register("session_windows_user", _SESSION_ORACLE)
def q_session_windows_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity sessions with a 4-hour inactivity gap
    (F.session_window — the third event-time window family member; the
    reference uses only tumbling)."""
    events = load_table(spark, sf_dir, "events")
    return session_aggregate(
        events, ts_col="ts", key_col="user_id", value_col="value", gap="4 hours"
    )


@register("streaming_session_windows", _SESSION_ORACLE)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: merging session-window state, complete
    mode over a bounded replay — must equal the batch/oracle answer."""
    stream = table_stream(spark, sf_dir, "events")
    sessions = session_aggregate(
        stream.withWatermark("ts", "2 minutes"),
        ts_col="ts",
        key_col="user_id",
        value_col="value",
        gap="4 hours",
    ).select(
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "user_id",
        "n_events",
        "sum_value",
    )
    return run_to_memory(sessions, output_mode="complete")


@register(
    "streaming_distinct_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q_streaming_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming dedup (dropDuplicates) on (user_id, event_type):
    first sighting per key, append mode."""
    stream = table_stream(spark, sf_dir, "events")
    out = distinct_keys(stream, ["user_id", "event_type"])
    return run_to_memory(out, output_mode="append")


_INTERVAL_JOIN_ORACLE = """
SELECT
  p.event_id AS purchase_id,
  v.event_id AS view_id,
  p.user_id  AS user_id,
  v.ts       AS view_ts,
  p.ts       AS purchase_ts
FROM events p JOIN events v ON p.user_id = v.user_id
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 2 HOUR
"""


@register("streaming_interval_join", _INTERVAL_JOIN_ORACLE)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join: purchases matched to the same
    user's views within the preceding 2 hours. Watermarks + the time band
    bound the join state (SURVEY.md §2.9)."""
    purchases = (
        table_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    views = (
        table_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    joined = (
        interval_join(
            purchases.withColumnRenamed("user_id", "key_id"),
            views.withColumnRenamed("v_user_id", "key_id"),
            key="key_id",
            left_ts="purchase_ts",
            right_ts="view_ts",
            lookback="2 hours",
            watermark="1 hour",
        )
        .select(
            "purchase_id",
            "view_id",
            F.col("key_id").alias("user_id"),
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        )
    )
    return run_to_memory(joined, output_mode="append")


_STREAM_WIRE_ORACLE = """
WITH trades AS (
  SELECT
    CASE WHEN event_id % 7 = 0 THEN 'raw-' || event_type
         ELSE 'parsed-trades-' || event_type || '-usdt' END          AS topic,
    upper(event_type)                                                AS from_symbol,
    CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP) AS timestamp,
    value                                                            AS price,
    (event_id % 10) / 16.0 + 1.0                                     AS quantity
  FROM events
)
SELECT
  time_bucket(INTERVAL '15 minutes', timestamp)                         AS window_start,
  time_bucket(INTERVAL '15 minutes', timestamp) + INTERVAL '15 minutes' AS window_end,
  CASE WHEN regexp_matches(topic, 'parsed-trades-.+-usdt')
       THEN regexp_extract(topic, 'parsed-trades-([^-]+)-usdt', 1)
       ELSE from_symbol END                                             AS symbol,
  min(struct_pack(t := timestamp, p := price)).p                        AS open,
  max(price)                                                            AS high,
  min(price)                                                            AS low,
  max(struct_pack(t := timestamp, p := price)).p                        AS close,
  sum(quantity)                                                         AS volume,
  count(*)                                                              AS n_trades
FROM trades
GROUP BY 1, 2, 3
"""


@register("streaming_trade_pipeline", _STREAM_WIRE_ORACLE)
def q_streaming_trade_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's production query end-to-end as a STREAM: wire JSON
    → parse → typed cast + null guard → base derivation → watermarked
    15-minute OHLCV candles (/root/reference/main.py:70-217), replayed
    over the file stream and checked against the batch oracle."""
    from ..operators.trades import trades_from_wire
    from .reference import _wire_trades

    stream = table_stream(spark, sf_dir, "events")
    trades = trades_from_wire(_wire_trades(stream)).withColumn(
        # Watermarks need TIMESTAMP (not NTZ); UTC session → same instant.
        "timestamp",
        F.col("timestamp").cast("timestamp"),
    )
    candles = streaming_ohlc_candles(
        trades,
        ts_col="timestamp",
        symbol_col="base",
        price_col="price",
        qty_col="quantity",
        window_duration="15 minutes",
        watermark_delay="2 minutes",
    )
    return run_to_memory(candles, output_mode="complete")


_CATEGORY_ORACLE = """
SELECT
  CASE WHEN event_type IN ('view', 'click') THEN 'engagement'
       WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
       ELSE 'ops' END AS category,
  count(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
"""


@register("streaming_static_join", _CATEGORY_ORACLE)
def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: the unbounded stream enriched against
    a small static dimension (event_type → category), then aggregated.
    The static side is planned as a broadcast per micro-batch — the
    streaming face of the dimension-join pattern (no state, no watermark
    needed for the join itself)."""
    dim = spark.createDataFrame(
        [
            ("view", "engagement"),
            ("click", "engagement"),
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("error", "ops"),
        ],
        ["event_type", "category"],
    )
    stream = table_stream(spark, sf_dir, "events")
    enriched = stream.join(F.broadcast(dim), "event_type")
    agg = enriched.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_stateful_error_counts",
    """
SELECT user_id, count(*) AS n_errors
FROM events
WHERE event_type = 'error'
GROUP BY user_id
""",
)
def q_streaming_stateful_error_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    error counts with explicit cross-batch state. Monotonic emissions make
    max-over-emissions equal the batch aggregate exactly (see
    streaming/stateful.py), so even the Python-stateful path is
    value-hash-checked."""
    from ..streaming.stateful import final_counts, stateful_event_counts


    stream = table_stream(spark, sf_dir, "events")
    emissions = stateful_event_counts(stream)
    log = run_to_memory(
        emissions, output_mode="update",
        partitions=_python_state_partitions(),
    )
    return final_counts(log)


@register("streaming_sliding_candles", _SLIDING_ORACLE)
def q_streaming_sliding_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the sliding candles: overlapping 1-hour windows
    every 30 minutes over the watermarked stream (each event updates 2
    window states; state per (window, symbol) stays O(1))."""
    stream = table_stream(spark, sf_dir, "events")
    candles = streaming_ohlc_candles(
        stream,
        ts_col="ts",
        symbol_col="event_type",
        price_col="value",
        qty_col=None,
        window_duration="1 hour",
        slide="30 minutes",
        watermark_delay="2 minutes",
    )
    return run_to_memory(candles, output_mode="complete")


@register(
    "streaming_vwap_candles",
    """
WITH e AS (
  SELECT date_trunc('hour', ts) AS ws, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(props ->> 'k' AS BIGINT)      AS qty
  FROM events
  WHERE CAST(props ->> 'k' AS BIGINT) > 0
)
SELECT
  ws AS window_start,
  event_type AS symbol,
  CAST(CAST(SUM(cents * qty) AS BIGINT) AS DOUBLE) / 100.0 / SUM(qty) AS vwap,
  CAST(SUM(qty) AS BIGINT) AS total_qty,
  COUNT(*)                 AS n_events
FROM e
GROUP BY 1, 2
""",
)
def q_streaming_vwap_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of vwap_candles: watermarked hourly windows over the
    replayed event stream, complete mode — integer-cent weighted sums make
    the streaming answer bit-equal to the batch oracle. State per
    (window, symbol) is three scalars (Σcents·qty, Σqty, n)."""
    stream = table_stream(spark, sf_dir, "events")
    qty = F.get_json_object(F.col("props"), "$.k").cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .select(
            F.col("ts"),
            F.col("event_type").alias("symbol"),
            cents.alias("cents"),
            qty.alias("qty"),
        )
        .where(F.col("qty") > 0)
        .groupBy(F.window("ts", "1 hour").alias("window"), "symbol")
        .agg(
            (
                F.sum(F.col("cents") * F.col("qty")).cast("double")
                / F.lit(100.0)
                / F.sum("qty")
            ).alias("vwap"),
            F.sum("qty").alias("total_qty"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            # timestamp_ntz like every other query (registry timestamp
            # discipline) — window.start is tz-aware session time.
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "symbol",
            "vwap",
            "total_qty",
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "streaming_quality_filter",
    """
WITH scored AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS ttr,
         len(list_filter(string_split(text, ' '),
                         t -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], t)))
           / len(string_split(text, ' ')) AS stop_ratio
  FROM documents
)
SELECT
  lang,
  count(*)                                        AS n_docs,
  CAST(SUM(CASE WHEN n_tokens >= 30 AND ttr >= 0.3 AND stop_ratio <= 0.5
                THEN 1 ELSE 0 END) AS BIGINT)     AS n_pass,
  min(doc_id)                                     AS min_doc_id
FROM scored
GROUP BY lang
""",
)
def q_streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus hygiene ON A STREAM: the quality_filter gate (length,
    lexical diversity, stopword density → per-language pass counts) over
    the documents table replayed as a file stream. The scoring is a
    stateless narrow projection — identical expressions to the batch
    twin — and the per-language aggregate keeps 5 rows of state in
    complete mode (documents carry no event time, so completeness comes
    from availableNow, not a watermark). Demonstrates that the LLM-data
    operators run unchanged under Structured Streaming."""
    from ..functions.textops import STOPWORDS

    docs = table_stream(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n
    passes = (n >= 30) & (ttr >= 0.3) & (stop <= 0.5)
    agg = (
        docs.select(
            "doc_id",
            "lang",
            F.when(passes, 1).otherwise(0).alias("_pass"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_pass").cast("long").alias("n_pass"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )
    return run_to_memory(agg, output_mode="complete")


from ._oracles import ANOMALY_ZSCORE_ORACLE as _ANOMALY_ORACLE  # noqa: E402


@register("streaming_anomaly_zscore", _ANOMALY_ORACLE)
def q_streaming_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection ON A STREAM: the batch z-score bounds (tiny,
    decimal-exact — see anomaly_zscore_events) are computed once from
    the static table and STREAM-STATIC joined to the live events feed;
    per-type totals aggregate in complete mode. This is the deployed
    shape: bounds refresh on a slow batch cadence, flagging runs on the
    stream with a broadcast-sized static side and 5 rows of state."""
    ev_static = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(12,6)")
    stats = ev_static.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    bounds = stats.select(
        "event_type",
        "n",
        mean.alias("mean"),
        F.sqrt(
            F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))
        ).alias("sd"),
    )

    stream = table_stream(spark, sf_dir, "events")
    flagged = F.abs(F.col("value") - F.col("mean")) > 3 * F.col("sd")
    agg = (
        stream.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value(F.col("n")).alias("n_events"),
            F.sum(F.when(flagged, 1).otherwise(0)).alias("n_anomalies"),
            F.min(F.when(flagged, F.col("event_id"))).alias("first_anomaly_id"),
        )
    )
    return run_to_memory(agg, output_mode="complete")


from .analytics import (  # noqa: E402  (analytics imports before streaming)
    INTERARRIVAL_ORACLE as _INTERARRIVAL_ORACLE,
    MAD_OUTLIER_ORACLE as _MAD_ORACLE,
    SESSION_FUNNEL_ORACLE as _FUNNEL_ORACLE,
    funnel_rollup,
    interarrival_rollup,
    mad_outlier_rollup,
)


@register("streaming_session_funnel", _FUNNEL_ORACLE)
def q_streaming_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized conversion funnel ON A STREAM: session_window's merging
    state builds the same gaps-and-islands sessions as the batch twin's
    lag/running-sum sessionization (splits at diff >= 4h, end-exclusive),
    with the three conditional stage-min timestamps folding per session —
    ONE stateful aggregation, O(1) scalars of state per live session; the
    1-row funnel reduction then runs over the finished session set with
    the shared rollup. Oracle identical to the batch query."""

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    stream = table_stream(spark, sf_dir, "events")
    stages = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(
            F.session_window(F.col("ts"), "4 hours").alias("session"),
            "user_id",
        )
        .agg(
            first_ts("view").alias("t_view"),
            first_ts("click").alias("t_click"),
            first_ts("purchase").alias("t_purchase"),
        )
        .select("user_id", "t_view", "t_click", "t_purchase")
    )
    log = run_to_memory(stages, output_mode="complete")
    return funnel_rollup(log)


@register("streaming_interarrival_stats", _INTERARRIVAL_ORACLE)
def q_streaming_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics ON A STREAM: a custom stateful
    operator (applyInPandasWithState) carries the last (ts, event_id)
    per (user, type) across micro-batches and emits each event's gap
    exactly once (append mode); the percentile reduction then runs over
    the bounded emission log — same rollup function as the batch twin,
    so the batch oracle applies verbatim. This is the streaming face of
    the SLO/heartbeat profile: O(keys) state, Arrow-batched Python, no
    per-row UDF."""
    from ..streaming.stateful import stateful_interarrival_gaps

    stream = table_stream(spark, sf_dir, "events")
    gaps = stateful_interarrival_gaps(stream)
    log = run_to_memory(
        gaps, output_mode="append",
        partitions=_python_state_partitions(),
    )
    return interarrival_rollup(log)


@register("streaming_candle_mad_outliers", _MAD_ORACLE)
def q_streaming_candle_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (MAD) outlier detection over STREAMED candles: the hourly
    per-symbol trade-count candles aggregate on the watermarked stream
    (one stateful windowed count — Structured Streaming forbids chained
    stream aggregations), then the median/MAD flagging rolls up over the
    finished candle set with the same shared reduction as the batch twin
    (the deployed shape: live candle build, periodic robust-bounds sweep
    over the materialized series)."""
    stream = table_stream(spark, sf_dir, "events")
    candles = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(
            F.window("ts", "1 hour").alias("window"),
            F.col("event_type").alias("symbol"),
        )
        .agg(F.count(F.lit(1)).alias("n_trades"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "symbol",
            "n_trades",
        )
    )
    log = run_to_memory(candles, output_mode="complete")
    # The rollup self-joins the candle set (median/MAD back-join); memory
    # -sink views hit Spark's conflicting-reference resolution bug under
    # self-join, so break lineage first (the log is hours×symbols tiny).
    return mad_outlier_rollup(log.localCheckpoint(eager=True))


def _pyds_stream_oracle() -> str:
    from ..sources.python_ds import tick_oracle_sql

    return f"""
WITH ticks AS ({tick_oracle_sql(2000)})
SELECT symbol,
       COUNT(*) AS n_ticks,
       MIN(tick_id) AS first_tick,
       MAX(tick_id) AS last_tick,
       CAST(CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS total
FROM ticks
GROUP BY symbol
"""


@register("pyds_stream_tick_summary", _pyds_stream_oracle())
def q_pyds_stream_tick_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource AS A STREAM (sf_dir unused — the
    tape is synthetic): `readStream.format("synthetic_ticks")` drives
    the SimpleDataSourceStreamReader through real micro-batches (2000
    rows / 600-row batches => 4 batches), complete-mode per-symbol
    aggregate, `processAllAvailable()` terminates on the connector's
    empty-batch signal. Offsets are row indices into the closed-form
    tape, so ANY batching replays identical rows — the oracle
    regenerates the tape from range() and value-hash-checks the whole
    connector+stream path, which the reference's console sink never
    could (/root/reference/main.py:90-99)."""
    from ..sources.python_ds import register_tick_source

    register_tick_source(spark)
    ticks = (
        spark.readStream.format("synthetic_ticks")
        .option("total_rows", "2000")
        .option("rows_per_batch", "600")
        .load()
    )
    cents = F.round(F.col("price") * 100).cast("long")
    agg = ticks.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.min("tick_id").alias("first_tick"),
        F.max("tick_id").alias("last_tick"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total"),
    )
    # Not run_to_memory: under trigger(availableNow=True) this Python
    # source reports its first prefetched batch as the latest offset, so
    # the query stops after 600 of the 2000 rows and returns a wrong
    # answer (measured). Drain until the reader's empty-batch signal.
    name = f"pyds_stream_{next(_counter)}"
    with stream_start(spark, None):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
    query.processAllAvailable()
    query.stop()
    query.awaitTermination()
    return spark.table(name)


@register(
    "streaming_dedup_exact",
    """
SELECT sha256(text) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
)
def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup ON A STREAM: documents replayed as a file stream,
    fingerprinted (sha2-256 — a 32-byte state key however long the
    document) and reduced to (keeper = min doc_id, copy count) in
    complete mode — the streaming twin of dedup_fingerprint, and the
    ingest-time shape of a dedup-at-the-door pipeline: state per
    distinct document is one fingerprint + two longs, so the stateful
    aggregation holds the DISTINCT corpus, never the stream. Shares the
    batch oracle (bounded replay ⇒ identical answer)."""
    docs = table_stream(spark, sf_dir, "documents")
    agg = docs.groupBy(F.sha2("text", 256).alias("fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return run_to_memory(agg, output_mode="complete")


@register("streaming_incremental_candles", _OHLC_ORACLE)
def q_streaming_incremental_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized candle view driven BY THE STREAM: every
    micro-batch aggregates to mergeable partial-candle state
    (operators.ohlc.ohlc_partial_candles) and folds into a running
    state table via the candle monoid — the foreachBatch twin of a
    streaming aggregation's state store, but with the state a plain
    DataFrame the batch engine can serve, snapshot, or backfill
    (candles_incremental_update is the same merge fed batch-side).
    Shares the flagship oracle: the folded state finalizes to the full
    recompute, bit for bit. Cross-batch folding is proven on a 4-file
    time-split tape in tests/test_streaming.py."""
    from ..operators.ohlc import (
        ohlc_finalize_partials,
        ohlc_merge_partial_states,
        ohlc_partial_candles,
    )

    def step(state: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        partial = ohlc_partial_candles(
            batch_df, ts_col="ts", symbol_col="event_type",
            price_col="value", qty_col=None, window_duration="1 hour",
        )
        un = partial if state is None else state.unionByName(partial)
        # Eager localCheckpoint: the folded state must not re-read prior
        # micro-batch inputs (they are consumed), and the plan must not
        # grow with batch count.
        return ohlc_merge_partial_states(un).localCheckpoint(eager=True)

    stream = table_stream(spark, sf_dir, "events")
    return ohlc_finalize_partials(fold_stream(stream, step))


_ASOF_ENRICH_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
)
SELECT
  p.event_id,
  p.user_id,
  p.ts,
  p.value  AS purchase_value,
  v.ts     AS asof_ts,
  v.value  AS asof_value
FROM purchases p
ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@register("streaming_asof_enrich", _ASOF_ENRICH_ORACLE)
def q_streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static AS-OF enrichment: the purchase stream joined per
    micro-batch to a STATIC dimension snapshot (each purchase gets the
    user's most recent prior view) via the engine's as-of operator —
    the "enrich live events with the latest reference row at event
    time" shape (price at trade time, config at request time) that a
    plain stream-static equi join cannot express. Shares the batch
    as-of oracle: a bounded replay enriches to identical rows.

    Scale: per micro-batch this is the union + single-window as-of
    (one user_id exchange, operators/joins.py) between the batch and
    the static side — state lives in the static snapshot, not the
    stream."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", "ts", "value")
        .localCheckpoint(eager=True)  # static dim snapshot
    )
    stream = table_stream(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts", "value")

    def step(acc: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        out = asof_join(
            batch_df,
            views,
            on=["user_id"],
            left_ts="ts",
            right_ts="ts",
            right_payload=["value"],
            how="left",
        ).select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
            "asof_ts",
            F.col("asof_value"),
        )
        out = out.localCheckpoint(eager=True)
        return out if acc is None else acc.unionByName(out)

    return fold_stream(stream, step)


@register(
    "streaming_transition_counts",
    """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n
FROM seq WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
""",
)
def q_streaming_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_transition_matrix's count core: per-user
    transitions extracted by a custom stateful operator
    (applyInPandasWithState carrying the last sighting across
    micro-batches), then counted over the append-mode emission log.
    Every transition is emitted exactly once, so the bounded replay's
    counts equal the batch lead() aggregate bit-for-bit — the oracle IS
    the batch SQL."""
    from ..streaming.stateful import stateful_transitions

    stream = table_stream(spark, sf_dir, "events")
    emissions = stateful_transitions(stream)
    log = run_to_memory(
        emissions, output_mode="append",
        partitions=_python_state_partitions(),
    )
    return log.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# --- transformWithStateInPandas twins -----------------------------------------
#
# Spark 4's typed-state successor to applyInPandasWithState. The legacy
# entries above stay as parity twins (VERDICT r7 item 4); these share the
# SAME pandas kernels (streaming/stateful.py::_gaps_emit/_transitions_emit)
# and the same batch oracles. TWS needs two runtime provisions the legacy
# API doesn't: the RocksDB state-store provider (its column families back
# the typed-state API — and it is the 100 TB provider anyway, SURVEY §4.2)
# and google.protobuf importable in the Python WORKERS (the state-server
# protocol), which _compat provisions even on the correctness driver's
# plain session via sc.environment (see ensure_protobuf_for_session).

_ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}


def _run_tws(
    spark, build_emissions, output_mode: str, partitions: int | None = None
) -> DataFrame:
    """Run a transformWithStateInPandas emission stream to completion:
    provision the protobuf worker shim BEFORE the UDF is created (envVars
    are captured at creation), set the RocksDB provider for the query's
    lifetime (captured at stream start), restore the session conf after.

    ``partitions`` sizes the state exchange: each partition pays a fixed
    state-server cost (RocksDB instance + Python worker + Arrow channel)
    per micro-batch, so MANY-small-group operators (the LSH band buckets:
    ~20k groups of a few entries) are fastest well below the core count —
    measured at sf0.1: 8 parts 14.4s, 16 parts 19.5s, 32 parts 19.4s,
    4 parts 32.8s. Defaults to :func:`_python_state_partitions`."""
    from .._compat import ensure_protobuf_for_session

    if not ensure_protobuf_for_session(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf in the Python "
            "workers and no runtime was found (_compat.ensure_protobuf)"
        )
    with scoped_confs(spark, _ROCKSDB_CONFS):
        return run_to_memory(
            build_emissions(), output_mode=output_mode,
            partitions=partitions or _python_state_partitions(),
        )


@register(
    "streaming_error_counts_tws",
    """
SELECT user_id, count(*) AS n_errors
FROM events
WHERE event_type = 'error'
GROUP BY user_id
""",
)
def q_streaming_error_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_stateful_error_counts on transformWithStateInPandas
    (typed ValueState instead of one opaque tuple). Monotonic emissions →
    max-over-emissions equals the batch aggregate; oracle shared verbatim
    with the legacy twin."""
    from ..streaming.stateful import final_counts, tws_event_counts

    log = _run_tws(
        spark,
        lambda: tws_event_counts(table_stream(spark, sf_dir, "events")),
        "update",
    )
    return final_counts(log)


@register("streaming_interarrival_stats_tws", _INTERARRIVAL_ORACLE)
def q_streaming_interarrival_stats_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """streaming_interarrival_stats on transformWithStateInPandas: the
    typed-state processor shares the exact gap kernel with the legacy
    operator (streaming/stateful.py::_gaps_emit), so each event's gap is
    emitted exactly once and the batch percentile oracle applies
    verbatim. Runs the MAPSTATE variant — one group per user with
    ``MapState[event_type → last sighting]`` instead of a (user, type)
    grouping key: |types|× fewer Arrow group crossings, measured 23%
    faster at sf0.1 with bit-identical emissions (the ValueState variant
    stays as the simple exhibit, equality pinned in
    tests/test_streaming_round8.py)."""
    from ..streaming.stateful import tws_interarrival_gaps_mapstate

    log = _run_tws(
        spark,
        lambda: tws_interarrival_gaps_mapstate(
            table_stream(spark, sf_dir, "events")
        ),
        "append",
    )
    return interarrival_rollup(log)


@register(
    "streaming_transition_counts_tws",
    """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n
FROM seq WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
""",
)
def q_streaming_transition_counts_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """streaming_transition_counts on transformWithStateInPandas: shares
    the transition kernel (streaming/stateful.py::_transitions_emit), so
    every transition is emitted exactly once and the batch lead() oracle
    applies verbatim."""
    from ..streaming.stateful import tws_transitions

    log = _run_tws(
        spark,
        lambda: tws_transitions(table_stream(spark, sf_dir, "events")),
        "append",
    )
    return log.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@register(
    "streaming_vocab_topk",
    """
SELECT token, cnt, rank FROM (
  SELECT token, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rank
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
) WHERE rank <= 100
""",
)
def q_streaming_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building at INGEST — the streaming twin of
    vocab_top_tokens: per-token running counts as a complete-mode
    streaming aggregation (state is one count per DISTINCT token — the
    vocabulary, never the corpus), then the batch twin's exact top-k
    rollup over the final counts (TakeOrderedAndProject heaps; the rank
    window runs over the 100 survivors only — O(k), not O(vocab)).
    Bounded replay ⇒ counts equal the batch aggregate, so the batch
    oracle applies verbatim. This is the deployed shape of a streaming
    tokenizer-vocabulary monitor: the state store IS the live
    vocabulary."""
    from pyspark.sql import Window

    docs = table_stream(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    log = run_to_memory(counts, output_mode="complete")
    top = log.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(100)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@register(
    "streaming_rolling_active",
    """
WITH acts AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS ad FROM events
), cal AS (
  SELECT unnest(generate_series((SELECT min(ad) FROM acts),
                                (SELECT max(ad) FROM acts),
                                INTERVAL 1 DAY))::DATE AS day
)
SELECT c.day AS day, count(DISTINCT a.user_id) AS n_active
FROM cal c LEFT JOIN acts a ON a.ad BETWEEN c.day - 6 AND c.day
GROUP BY 1
""",
)
def q_streaming_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained rolling 7-day DAU view — the foreachBatch
    incremental twin of rolling_active_7d (the streaming_incremental_candles
    pattern): every micro-batch folds its distinct (user, day) coverage
    intervals [d, d+6] into a running per-user ISLAND state via
    interval_union — island merging is associative and commutative over
    interval sets, so fold order is irrelevant and the folded state equals
    the batch islands exactly. State is one row per (user, maximal island):
    bounded by distinct user-days, smaller after every merge of contiguous
    activity — never the raw stream. Finalizes with the shared sweep-line
    tail (analytics.rolling_active_finalize), so the batch oracle applies
    verbatim. Cross-batch folding exercised on a 4-file time-split tape in
    tests/test_streaming_round8.py."""
    return fold_rolling_active(table_stream(spark, sf_dir, "events"))


def fold_rolling_active(stream: DataFrame) -> DataFrame:
    """Fold a bounded events stream into the rolling 7-day distinct-active
    view (see q_streaming_rolling_active). Factored out so the multi-batch
    test drives the exact production fold over a time-split tape."""
    from ..operators.sessions import interval_union
    from .analytics import rolling_active_finalize

    epoch = F.lit("1970-01-01").cast("date")

    def step(state: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        iv = (
            batch_df.select(
                "user_id",
                F.datediff(F.col("ts").cast("date"), epoch).alias("st"),
            )
            .distinct()
            .select("user_id", "st", (F.col("st") + 6).alias("en"))
        )
        un = iv if state is None else state.unionByName(iv)
        merged = interval_union(
            un, key_col="user_id", start_col="st", end_col="en"
        ).select(
            "user_id",
            F.col("island_start").alias("st"),
            F.col("island_end").alias("en"),
        )
        # Eager localCheckpoint: consumed micro-batch inputs must not be
        # re-read at finalize, and the plan must not grow with batch count.
        return merged.localCheckpoint(eager=True)

    state = fold_stream(stream, step)
    # Span from the checkpointed state (re-reading it is free): every
    # island ends 6 days after its key's last activity day, so
    # d_hi = max(en) - 6 recovers the activity-day calendar exactly.
    span = state.agg(
        F.min("st").alias("d_lo"), (F.max("en") - 6).alias("d_hi")
    )
    return rolling_active_finalize(
        state.select(
            "user_id",
            F.col("st").alias("island_start"),
            F.col("en").alias("island_end"),
        ),
        span,
    )


from . import _oracles as _no  # noqa: E402


@register("streaming_dedup_minhash", _no.minhash_pairs_sql(0.7))
def q_streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup AT INGEST — the streaming face of
    dedup_minhash_lsh (oracle shared verbatim): documents replayed as a
    stream, hashed narrowly in-row (shingle set → fingerprint → MinHash →
    band keys, zero shuffles upstream of state), band buckets held as
    transformWithStateInPandas MapState keyed by (band, key) emitting a
    candidate pair the first time two DISTINCT contents cohabit a bucket
    — identical copies hit the in-state fingerprint collapse and add
    zero state/candidates (the k² duplication guard, streaming/neardup.py).
    The bounded replay's candidate log equals the batch LSH candidate
    set; exact-Jaccard verification and group expansion then reuse the
    batch kernels."""
    from ..streaming.neardup import (
        lsh_band_rows,
        neardup_finalize,
        tws_lsh_candidates,
    )

    cand = _run_tws(
        spark,
        # repartition BEFORE hashing: the single-row-group file scan is
        # one task, and the heavy narrow hash projection would otherwise
        # run single-threaded below the state exchange (measured 6s of
        # the query at sf0.1); an explicit stateless exchange first fans
        # the per-doc char-fold across cores.
        lambda: tws_lsh_candidates(
            lsh_band_rows(
                table_stream(spark, sf_dir, "documents").repartition(
                    default_parallelism()
                )
            )
        ),
        "append",
        partitions=8,  # many tiny groups: state-server setup dominates
    )
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return neardup_finalize(cand, docs, threshold=0.7)


def session_timers_rollup(log: DataFrame) -> DataFrame:
    """Emission log → oracle shape: micro-unit sums back to exact doubles
    (units·10⁻⁶ rounded once — bitwise equal to CAST(DECIMAL(30,6) sum AS
    DOUBLE)), timestamps to NTZ (UTC session), sentinel rows dropped (the
    sentinel user's own session never fires anyway; the guard is for the
    input-time path)."""
    return log.where(F.col("user_id") >= 0).select(
        F.timestamp_micros(F.col("start_us"))
        .cast("timestamp_ntz")
        .alias("session_start"),
        F.timestamp_micros(F.col("end_us"))
        .cast("timestamp_ntz")
        .alias("session_end"),
        "user_id",
        "n_events",
        (F.col("sum_units").cast("double") / F.lit(1_000_000.0)).alias(
            "sum_value"
        ),
    )


@register("streaming_session_timers", _SESSION_ORACLE)
def q_streaming_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization via REGISTERED EVENT-TIME TIMERS
    (timeMode="EventTime") — the timer half of the transformWithState
    surface, sharing session_windows_user's oracle verbatim. Sessions
    with a successor close at input time; final sessions close when the
    WATERMARK passes last+gap and the key's registered timer fires
    (streaming/stateful.py::tws_session_timers). The replay tape appends
    one sentinel row at max(ts) + gap + delay + margin so the final
    watermark covers every real timer — the production "punctuation
    event" pattern for bounded event-time replays; the sentinel's own
    timer is the only one past the watermark and self-excludes.

    Scale: state is ONE open-session struct + ONE registered timer per
    user (RocksDB column families); emissions are append-mode and final
    — no complete-mode re-emission of the whole result per batch, which
    is what makes this the 100 TB session shape while the built-in
    session_window twin (streaming_session_windows) must run complete."""
    import datetime

    from ..streaming.stateful import SESSION_GAP_US, tws_session_timers

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]  # 1-row fence
    # Sentinel = max real ts + gap + watermark delay + 1s margin,
    # DERIVED from the same constants the operator and the
    # withWatermark call below use — a drifted literal would let
    # final-session timers land past the last watermark and
    # silently drop sessions (ADVICE r9).
    sentinel_ts = max_ts + datetime.timedelta(
        microseconds=SESSION_GAP_US, seconds=_SESSION_WM_DELAY_S + 1
    )

    sentinel = one_row_frame(
        spark,
        (-1, sentinel_ts, -1, 0.0),
        "event_id long, ts timestamp_ntz, user_id long, value double",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) as ts", "user_id", "value"
    )
    with replay_tape(ev, [sentinel]) as tape:
        schema = spark.read.parquet(tape).schema
        # Watermarks require TIMESTAMP (not NTZ); UTC session ⇒ same
        # instant. NO maxFilesPerTrigger: the whole tape in ONE batch
        # means no row is ever late relative to a prior batch's
        # watermark (replay_tape's mtime stamping is defense-in-depth);
        # the availableNow drain batch then fires every timer ≤ the
        # sentinel-advanced watermark — one state-server round instead
        # of one per file.
        stream = (
            spark.readStream.schema(schema)
            .parquet(tape)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", f"{_SESSION_WM_DELAY_S} seconds")
        )
        log = _run_tws(
            spark,
            lambda: tws_session_timers(stream),
            "append",
        )
    return session_timers_rollup(log)


@register("streaming_dedup_then_candles", _OHLC_ORACLE)
def q_streaming_dedup_then_candles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED STATEFUL OPERATORS in one streaming query — the real
    ingest topology: an at-least-once delivery (the event stream unioned
    with a second delivery of itself, so every event arrives twice) →
    watermark-bounded exact dedup (dropDuplicatesWithinWatermark on
    event_id — state evicted once the watermark passes, the 100 TB
    dedup-at-the-door shape) → tumbling OHLC aggregation, complete mode.
    Spark 3.4+ multi-stateful-operator support means this is ONE query
    with two state stores, not two queries glued by a sink; the result
    must equal the batch flagship exactly (oracle shared verbatim) —
    proof the dedup stage dropped every duplicate and nothing else."""
    dup = table_stream(spark, sf_dir, "events").unionByName(
        table_stream(spark, sf_dir, "events")
    )
    # ONE watermark for the whole chain: redefining it between stateful
    # operators is disallowed under multi-stateful support, so the dedup
    # stage's watermark carries into the window aggregation (the candle
    # builder is used agg-only here via the pre-watermarked input).
    dd = dup.withWatermark("ts", "2 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    from ..operators.ohlc import ohlc_aggregates

    candles = (
        dd.groupBy(
            F.window(F.col("ts"), "1 hour").alias("window"),
            F.col("event_type").alias("symbol"),
        )
        .agg(*ohlc_aggregates("ts", "value", None, "efficient"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )
    return run_to_memory(candles, output_mode="complete")


@register(
    "streaming_semi_join",
    """
SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events v
    WHERE v.event_type = 'view' AND v.user_id = p.user_id
      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 2 HOUR
  )
""",
)
def q_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join: purchases with at least one
    same-user view in the preceding 2 hours, each emitted exactly ONCE
    with left columns only — the streaming existence filter. An inner
    join fans out per matching view and needs a stateful dedup behind it;
    the semi join answers the predicate inside the join state machine.
    Completes the stream-stream join family (inner `streaming_interval_
    join`, left-outer in streaming/joins.py, semi here). Oracle: the
    equivalent EXISTS subquery."""
    from ..streaming.joins import interval_join_left_semi

    purchases = (
        table_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    views = (
        table_stream(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    out = interval_join_left_semi(
        purchases.withColumnRenamed("user_id", "key_id"),
        views.withColumnRenamed("v_user_id", "key_id"),
        key="key_id",
        left_ts="purchase_ts",
        right_ts="view_ts",
        lookback="2 hours",
        watermark="1 hour",
    ).select(
        "purchase_id",
        F.col("key_id").alias("user_id"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )
    return run_to_memory(out, output_mode="append")


def _closed_event_tape(spark: SparkSession, sf_dir: str):
    """The closed-tape ingredients every sentinel-proof join query
    shares: the events slab plus TWO trailing watermark-advancing
    sentinel frames at max(ts) + lookback + delay (+1s, +2s). ONE
    definition of the discipline (two files because eviction uses the
    PREVIOUS batch's watermark; a positive non-existent user id so the
    rows survive scan pushdown — see q_streaming_anti_join's docstring
    for both observed failure modes). Returns (events_df, sentinel_dfs)
    for sources.stream.replay_tape."""
    import datetime

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]  # 1-row fence

    # Single-partition one-row frames (see one_row_frame: a plain
    # createDataFrame sentinel cost 6-7s PER WRITE through replay_tape's
    # coalesce).
    sentinels = [
        one_row_frame(
            spark,
            (
                -i,
                max_ts
                + datetime.timedelta(
                    seconds=_ANTI_LOOKBACK_S + _ANTI_WM_DELAY_S + i
                ),
                _ANTI_SENTINEL_USER,
                "sentinel",
            ),
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string",
        ).selectExpr(
            "event_id",
            "cast(ts as timestamp) as ts",
            "user_id",
            "event_type",
        )
        for i in (1, 2)
    ]
    return ev, sentinels


#: Band / watermark for the anti-join tape, shared by the join kwargs,
#: the sentinel offset, and the oracle's INTERVAL literal (same
#: no-drift rule as _SESSION_WM_DELAY_S).
_ANTI_LOOKBACK_S = 7200
_ANTI_WM_DELAY_S = 3600

#: Positive, outside any real user-id range: the sentinel must SURVIVE
#: every pushed-down scan predicate to reach the watermark nodes.
_ANTI_SENTINEL_USER = 1 << 40


@register(
    "streaming_anti_join",
    f"""
SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts
FROM events p
WHERE p.event_type = 'purchase'
  AND NOT EXISTS (
    SELECT 1 FROM events v
    WHERE v.event_type = 'view' AND v.user_id = p.user_id
      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL {_ANTI_LOOKBACK_S} SECOND
  )
""",
)
def q_streaming_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT ANTI interval join: purchases with NO same-user
    view in the preceding {_ANTI_LOOKBACK_S}s band, each emitted exactly
    once with left columns only — the streaming complement of
    `streaming_semi_join` and the shape ingest dedup / late-enrichment
    pipelines ask for ("records that never got their companion event").
    Spark has no native streaming anti join; streaming/joins.py composes
    the left-outer state machine with a right-side probe column
    (interval_join_left_anti), so every emission carries a watermark
    proof that no in-band match can still arrive.

    That proof is also why the bounded replay needs PUNCTUATION rows:
    the final watermark sits delay behind max(ts), which would withhold
    the last hour of genuine anti matches. The tape therefore ends with
    TWO sentinel files at max(ts) + lookback + delay + 1s (and +2s) —
    mtime-stamped LAST in order (file-source replay is mtime-ordered)
    and kept FLOWING THROUGH both watermark nodes (filters admit
    event_type 'sentinel' on both sides) because watermarks only advance
    on rows that reach them. Two, not one: a batch EVICTS with the
    watermark computed at the END of the PREVIOUS batch, and availableNow
    stops at the last data batch — with a single sentinel the
    beyond-everything watermark exists but no batch ever evicts with it
    (observed: the last ~watermark-delay of genuine anti rows withheld).
    The sentinels' own emissions self-exclude twice over (each left
    sentinel has an in-band right sentinel match, and the final watermark
    stays delay behind the last sentinel); a guard on the RESULT table
    backstops that. The guard must NOT sit in the streaming plan: the
    sentinels carry a positive non-existent user_id and the filter runs
    batch-side because Catalyst pushes left-column predicates through
    the join into BOTH scans (join-key constraint propagation) — a
    streaming-side user_id guard filtered the sentinels out AT THE SCAN,
    the watermark nodes never saw them, and the last watermark-delay of
    genuine anti rows was silently withheld (observed, round 10).
    Oracle: the equivalent NOT EXISTS, exact because the tape is closed."""
    from ..streaming.joins import interval_join_left_anti

    ev, sentinels = _closed_event_tape(spark, sf_dir)
    with replay_tape(ev, sentinels) as tape:
        schema = spark.read.parquet(tape).schema
        # NO maxFilesPerTrigger: the whole tape lands in ONE batch, so
        # no row can be late relative to an earlier batch's watermark
        # (replay_tape's mtime stamping becomes defense-in-depth) and
        # the no-data eviction batch then runs once with the final
        # sentinel-advanced watermark — 2 batches total instead of
        # per-file batches + evictions (~25% faster at sf0.1).
        stream = (
            spark.readStream.schema(schema)
            .parquet(tape)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        purchases = stream.where(
            F.col("event_type").isin("purchase", "sentinel")
        ).select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("purchase_ts"),
        )
        views = stream.where(
            F.col("event_type").isin("view", "sentinel")
        ).select(
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("view_ts"),
        )
        out = interval_join_left_anti(
            purchases,
            views,
            key="key_id",
            left_ts="purchase_ts",
            right_ts="view_ts",
            lookback=f"{_ANTI_LOOKBACK_S} seconds",
            watermark=f"{_ANTI_WM_DELAY_S} seconds",
        ).select(
            "purchase_id",
            F.col("key_id").alias("user_id"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        )
        # Sentinel guard BATCH-side (see docstring: a streaming-side
        # filter would be pushed into the scans and starve the
        # watermark).
        # Null-safe: a plain != would also drop NULL-user purchases
        # that the NOT EXISTS oracle keeps.
        return run_to_memory(out, output_mode="append").where(
            ~F.col("user_id").eqNullSafe(F.lit(_ANTI_SENTINEL_USER))
        )


@register(
    "streaming_full_outer_join",
    f"""
SELECT
  p.event_id                        AS purchase_id,
  v.event_id                        AS view_id,
  coalesce(p.user_id, v.user_id)    AS user_id,
  p.ts                              AS purchase_ts,
  v.ts                              AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL {_ANTI_LOOKBACK_S} SECOND
""",
)
def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the last member of the
    family (inner `streaming_interval_join`, left-outer in
    streaming/joins.py, semi `streaming_semi_join`, anti
    `streaming_anti_join`, full-outer here): every purchase paired with
    every same-user view in the preceding band, PLUS unmatched purchases
    (view columns null) PLUS unmatched views (purchase columns null) —
    the reconciliation/audit shape ("nothing on either side goes
    unaccounted"). Native fullOuter in Spark's join state machine; each
    side's unmatched rows are watermark-proven, so the bounded replay
    reuses the anti join's closed-tape discipline verbatim: TWO trailing
    sentinel files at max(ts) + lookback + delay (+1s, +2s), sentinel
    rows flowing through BOTH side filters to advance BOTH watermark
    nodes, guard batch-side (scan pushdown would starve the watermark —
    see q_streaming_anti_join). Sentinel self-emissions are matched
    pairs (each left sentinel has an in-band right sentinel), removed by
    the same user-id guard. Oracle: the equivalent FULL OUTER JOIN."""
    from ..streaming.joins import interval_join_full_outer

    ev, sentinels = _closed_event_tape(spark, sf_dir)
    with replay_tape(ev, sentinels) as tape:
        schema = spark.read.parquet(tape).schema
        # One availableNow batch + the no-data eviction batch (same
        # 2-batch shape as the anti join — see its comment).
        stream = (
            spark.readStream.schema(schema)
            .parquet(tape)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        purchases = stream.where(
            F.col("event_type").isin("purchase", "sentinel")
        ).select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("purchase_ts"),
        )
        views = stream.where(
            F.col("event_type").isin("view", "sentinel")
        ).select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("key_id"),
            F.col("ts").alias("view_ts"),
        )
        out = interval_join_full_outer(
            purchases,
            views,
            key="key_id",
            left_ts="purchase_ts",
            right_ts="view_ts",
            lookback=f"{_ANTI_LOOKBACK_S} seconds",
            watermark=f"{_ANTI_WM_DELAY_S} seconds",
        ).select(
            "purchase_id",
            "view_id",
            F.col("key_id").alias("user_id"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        )
        # Guard batch-side, null-safe (user_id is never null here —
        # coalesce of the join keys — but keep the anti join's idiom).
        return run_to_memory(out, output_mode="append").where(
            ~F.col("user_id").eqNullSafe(F.lit(_ANTI_SENTINEL_USER))
        )


#: Decontamination gate at ingest: gram length and the held-out eval
#: source IMPORTED from queries/analytics.py's suffix-exact pair (this
#: is the STREAMING membership-test face of the SAME policy — one
#: constant edit moves the whole family; analytics registers before
#: streaming in registry.py, so the import is cycle-free).
from .analytics import _DECON_CUT_MIN as _DECON_GRAM  # noqa: E402
from .analytics import _DECON_EVAL_SOURCE as _DECON_SRC  # noqa: E402


def _decon_grams(text_col: str = "text"):
    """The {_DECON_GRAM}-gram md5 array of a document — ONE definition
    shared by the static eval-set build, the per-batch stream
    projection, and the cross-batch test (a drifted copy on either
    side of the membership join silently breaks the gate).
    sequence(a, b) with b < a generates DESCENDING values — the
    short-doc case is guarded to an empty array instead."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    return F.when(
        n >= _DECON_GRAM,
        F.transform(
            F.sequence(F.lit(1), n - (_DECON_GRAM - 1)),
            lambda p: F.md5(
                F.concat_ws(" ", F.slice(toks, p, _DECON_GRAM)).cast("binary")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "streaming_decontaminate",
    f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
eg AS (
  SELECT DISTINCT
         md5(array_to_string(list_slice(t, p, p + {_DECON_GRAM} - 1), ' '))
           AS gram
  FROM toks, unnest(range(1, len(t) - {_DECON_GRAM} + 2)) AS u(p)
  WHERE source = '{_DECON_SRC}'
),
tg AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, p, p + {_DECON_GRAM} - 1), ' '))
           AS gram
  FROM toks, unnest(range(1, len(t) - {_DECON_GRAM} + 2)) AS u(p)
  WHERE source <> '{_DECON_SRC}'
),
hits AS (
  SELECT doc_id, max(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS hit
  FROM tg LEFT JOIN eg e USING (gram) GROUP BY doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT)                           AS n_docs,
       CAST(coalesce(sum(h.hit), 0) AS BIGINT)            AS n_contam,
       CAST(count(*) - coalesce(sum(h.hit), 0) AS BIGINT) AS n_clean
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.source <> '{_DECON_SRC}'
GROUP BY d.source
""",
)
def q_streaming_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination AT INGEST: train documents replayed as a file
    stream are gated against the held-out eval slice's {_DECON_GRAM}-gram
    set — the streaming membership-test face of the decontamination
    family (decontaminate_ngram: fixed-N batch score;
    decontaminate_span/_cut: exact-span batch suffix machinery). The
    eval gram set is a STATIC bounded build (benchmark corpora are
    KB–MB-scale next to a 100 TB train stream) broadcast into every
    micro-batch's gram join; per-batch the verdict is one narrow in-row
    gram projection + broadcast left join + per-doc max, and the fold
    keeps O(#sources) additive state (each doc arrives in exactly one
    batch, so per-source counts sum across batches) via the sanctioned
    fold_stream helper. Docs shorter than {_DECON_GRAM} tokens
    produce zero grams and count clean via explode_outer — same edge
    the oracle's LEFT JOIN handles. Output: per train source, docs
    scanned / contaminated / clean."""
    docs_all = load_table(spark, sf_dir, "documents")
    eval_grams = build_eval_grams(docs_all)
    stream = table_stream(spark, sf_dir, "documents").where(
        F.col("source") != _DECON_SRC
    )
    out = fold_decontaminate(stream, eval_grams.df)
    # The fold's final state is itself localCheckpointed, so the gram
    # blocks are dead once the stream drains — release them (the
    # suffix-machinery retention discipline).
    release_ckpt(spark, eval_grams)
    return out


class TrackedFrame:
    """An eagerly checkpointed DataFrame plus the DISK_ONLY block ids it
    owns. Explicit holder (r11 ADVICE): the previous attribute-based
    tracking (``df._release_ids``) silently died under any DataFrame
    transformation, turning a lost ownership record into a disk-block
    leak; with the holder, forgetting to unwrap ``.df`` is a loud type
    error instead. ``ids=()`` marks a caller-owned frame this module
    must never release (resume state)."""

    __slots__ = ("df", "ids")

    def __init__(self, df: DataFrame, ids: tuple[int, ...] = ()):
        self.df = df
        self.ids = tuple(ids)


def _ckpt_tracked(df: DataFrame) -> TrackedFrame:
    """Eager DISK_ONLY localCheckpoint returning a :class:`TrackedFrame`
    carrying the new block ids, so owners can actually free the disk
    blocks via :func:`release_ckpt` when done. ``DataFrame.unpersist()``
    CANNOT do this — it only consults the cache manager, which never
    registers local checkpoints (the exact pitfall
    operators/suffix.py:102 documents; the r10 self-review confirmed
    unpersist leaves the RDD in getPersistentRDDs)."""
    from ..operators.suffix import _ckpt

    ids: list[int] = []
    out = _ckpt(df, track=ids, spill=True)
    return TrackedFrame(out, tuple(ids))


def release_ckpt(spark: SparkSession, tracked: TrackedFrame | None) -> None:
    """Free the checkpoint blocks a :class:`TrackedFrame` owns (no-op
    for ``None`` or a caller-owned frame with empty ids, e.g. resume
    state). Only call once every consumer has materialized — the data
    is gone irrevocably."""
    from ..operators.suffix import release_blocks

    ids = tracked.ids if tracked is not None else ()
    if ids:
        release_blocks(spark, set(ids))


def build_eval_grams(docs: DataFrame) -> TrackedFrame:
    """Materialized distinct gram set of the eval slice — eager
    localCheckpoint so the build (scan + explode + distinct) runs ONCE,
    not once per micro-batch inside the fold's broadcast join (the
    docstring's 'static bounded build', made actually static).

    DISK_ONLY storage with TRACKED block ids (round-10 ADVICE): this is
    the one frame rebroadcast into EVERY micro-batch for the lifetime
    of the ingest stream, so its residency scales with the eval corpus
    — spill it like operators/suffix.py spills its rank tables instead
    of pinning executor heap; the broadcast copy is what the join
    actually reads. Callers that own the frame release it with
    :func:`release_ckpt` once the fold completes
    (q_streaming_decontaminate does)."""
    return _ckpt_tracked(
        docs.where(F.col("source") == _DECON_SRC)
        .select(F.explode(_decon_grams()).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )


def fold_eval_grams(
    eval_stream: DataFrame, state: TrackedFrame | None = None
) -> TrackedFrame:
    """Fold an EVAL-side document stream into the persisted distinct
    gram-set table — the eval half of the fully incremental
    decontamination gate (see q_streaming_decontaminate_incr). Delta
    discipline (dedup_incremental_probe's shape, applied to state
    maintenance): each micro-batch's distinct grams probe the state
    with one LEFT ANTI join and only the FRESH grams append, so
    per-arrival cost tracks the eval delta, never the accumulated set,
    and the state table's size is the true distinct-gram count.
    State is an eager DISK_ONLY localCheckpoint per batch (the
    build_eval_grams retention discipline) with the superseded
    snapshot's blocks released — via tracked ids, the only release that
    reaches local checkpoints — as soon as the new one materializes.
    ``state`` resumes from a previous fold's gram table (pass the
    :class:`TrackedFrame` a prior call returned; it is re-wrapped with
    empty ids here so its blocks stay caller-owned and are never
    released by this fold) — the eval-side APPEND path the two-phase
    tape test drives. Returns the final gram table in the gate's
    (gram, _hit) schema as a :class:`TrackedFrame` for
    :func:`release_ckpt`."""
    def step(cur: TrackedFrame | None, batch_df: DataFrame) -> TrackedFrame:
        bg = batch_df.select(F.explode(_decon_grams()).alias("gram")).distinct()
        new = (
            bg
            if cur is None
            else cur.df.unionByName(bg.join(cur.df, "gram", "left_anti"))
        )
        nxt = _ckpt_tracked(new)
        release_ckpt(batch_df.sparkSession, cur)
        return nxt

    start = TrackedFrame(state.df.select("gram")) if state is not None else None
    out = fold_stream(eval_stream, step, start)
    return TrackedFrame(out.df.withColumn("_hit", F.lit(1)), out.ids)


@register(
    "streaming_decontaminate_incr",
    f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
eg AS (
  SELECT DISTINCT
         md5(array_to_string(list_slice(t, p, p + {_DECON_GRAM} - 1), ' '))
           AS gram
  FROM toks, unnest(range(1, len(t) - {_DECON_GRAM} + 2)) AS u(p)
  WHERE source = '{_DECON_SRC}'
),
tg AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, p, p + {_DECON_GRAM} - 1), ' '))
           AS gram
  FROM toks, unnest(range(1, len(t) - {_DECON_GRAM} + 2)) AS u(p)
  WHERE source <> '{_DECON_SRC}'
),
hits AS (
  SELECT doc_id, max(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS hit
  FROM tg LEFT JOIN eg e USING (gram) GROUP BY doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT)                           AS n_docs,
       CAST(coalesce(sum(h.hit), 0) AS BIGINT)            AS n_contam,
       CAST(count(*) - coalesce(sum(h.hit), 0) AS BIGINT) AS n_clean,
       CAST((SELECT count(*) FROM eg) AS BIGINT)          AS n_eval_grams
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.source <> '{_DECON_SRC}'
GROUP BY d.source
""",
)
def q_streaming_decontaminate_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY INCREMENTAL decontamination gate (VERDICT r10 stretch):
    streaming_decontaminate rebuilds the eval-gram broadcast from a
    static table; here BOTH corpora are streams. Phase 1 folds the
    eval-document stream into a persisted distinct-gram table with the
    dedup_incremental_probe delta shape (batch grams LEFT ANTI probe
    the state, only fresh grams append — per-arrival cost tracks the
    eval delta); phase 2 replays the train stream through the same
    broadcast gate (fold_decontaminate, shared verbatim). Gate
    decisions equal the batch recompute because the registry exhibit
    drains the eval tape before opening the train gate; the two-phase
    tape test (tests/test_streaming_stateful.py) proves the stronger
    property — after an EVAL-SIDE APPEND the incrementally updated
    state gates identically to a from-scratch batch rebuild over the
    grown eval corpus. Output adds ``n_eval_grams`` (the state table's
    row count) so the persisted-state size itself is oracle-checked.
    At 100 TB: benchmark suites grow by deltas; re-hashing only the
    appended slice instead of the whole eval corpus per refresh is the
    point, and the train side's per-batch plan is unchanged."""
    eval_stream = table_stream(spark, sf_dir, "documents").where(
        F.col("source") == _DECON_SRC
    )
    eval_grams = fold_eval_grams(eval_stream)
    n_grams = eval_grams.df.count()
    train_stream = table_stream(spark, sf_dir, "documents").where(
        F.col("source") != _DECON_SRC
    )
    out = fold_decontaminate(train_stream, eval_grams.df)
    release_ckpt(spark, eval_grams)
    return out.withColumn("n_eval_grams", F.lit(n_grams).cast("long"))


def fold_decontaminate(stream: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Fold a bounded train-document stream through the eval-gram gate
    (see q_streaming_decontaminate). Factored out so the multi-batch
    test drives the exact production fold over a file-split tape."""
    grams = _decon_grams()

    def step(cur: TrackedFrame | None, batch_df: DataFrame) -> TrackedFrame:
        tg = batch_df.select(
            "doc_id", "source", F.explode_outer(grams).alias("gram")
        )
        hits = (
            tg.join(F.broadcast(eval_grams), "gram", "left")
            .groupBy("doc_id", "source")
            .agg(
                F.max(F.coalesce(F.col("_hit"), F.lit(0))).alias("hit")
            )
        )
        per_src = hits.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("hit").alias("n_contam"),
        )
        un = (
            per_src
            if cur is None
            else cur.df.unionByName(per_src)
            .groupBy("source")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_contam").alias("n_contam"),
            )
        )
        # Eager localCheckpoint: consumed micro-batch inputs must not
        # be re-read at finalize, and the plan must not grow with batch
        # count (the fold-family discipline). Tracked ids so each
        # superseded O(#sources) snapshot's blocks actually free.
        nxt = _ckpt_tracked(un)
        release_ckpt(batch_df.sparkSession, cur)
        return nxt

    state = fold_stream(stream, step)
    return state.df.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_contam").cast("long").alias("n_contam"),
        (F.col("n_docs") - F.col("n_contam")).cast("long").alias("n_clean"),
    )


def fold_ann_serve(
    query_stream: DataFrame,
    index: dict[str, DataFrame],
    dim: int = 64,
    n_subspaces: int = 8,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Serve an ANN QUERY STREAM against a frozen residual IVF-PQ index
    (VERDICT r11 item 8, the stretch): each micro-batch of query vectors
    is answered by the batch search operator over the static index
    tables — the stream-static join pattern, with the broadcast sides
    (centroids, codebook, per-batch LUT) all schema-constant-bounded.
    Queries are independent rows, each arriving in exactly ONE batch,
    and the per-batch search ranks against the FULL static corpus — so
    per-batch finals ARE the global answer for that batch's queries and
    the drained tape equals the batch trained top-k exactly (the
    two-tape pytest pins it). Finals accumulate driver-side: ≤ k rows
    per query, bounded by the probe set like the similarity-family
    query fences. At 100 TB this is the serving tier: the index is
    read-only, per-batch cost is nprobe/n_cells of the CODES (~3% of
    the bytes), and batches parallelize over queries."""
    from ..operators.similarity import ann_index_search

    spark = query_stream.sparkSession

    def step(rows: list, batch_df: DataFrame) -> list:
        from ..functions.vectorops import as_double_array

        q = batch_df.select(
            F.col("vec_id").alias("query_id"),
            as_double_array("embedding").alias("_e"),
        )
        res = ann_index_search(
            q, index, dim=dim, n_subspaces=n_subspaces, nprobe=nprobe, k=k
        )
        return rows + [tuple(r) for r in res.collect()]

    rows = fold_stream(query_stream, step, [])
    # Single-partition driver-local finals (a default createDataFrame
    # spreads the k·q rows over defaultParallelism Python-backed
    # partitions — see sources/stream.one_row_frame).
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "query_id long, vec_id long, adc_units long, rank long",
    )


def _ann_serve_oracle() -> str:
    from .ann_oracles import _RES_ITERS, _ivfpq_residual_oracle

    return _ivfpq_residual_oracle(iters=_RES_ITERS)


@register("streaming_ann_serve", _ann_serve_oracle())
def q_streaming_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN SERVING: train the residual IVF-PQ index once
    (batch — the offline trainer), freeze it, and answer a stream of
    query vectors against it via :func:`fold_ann_serve`. The oracle is
    similarity_ivfpq_residual's verbatim — the serving tier must return
    exactly what the batch search returns over the same corpus, which
    is the whole point of a frozen index. The corpus-sized index tables
    (cells, codes) are eagerly DISK_ONLY-checkpointed once so training
    never re-runs per micro-batch (the build_eval_grams retention
    discipline), and released when the tape drains; centroids and
    codebook are already driver-materialized literals (lloyd_train's
    O(k·dim) contract)."""
    from ..operators import similarity as sim_ops
    from .ann_oracles import _RES_ITERS

    emb = load_table(spark, sf_dir, "embeddings")
    index = sim_ops.train_ann_index(
        emb, dim=64, n_subspaces=8, n_cents=8, n_cells=8, iters=_RES_ITERS
    )
    cells_t = _ckpt_tracked(index["cells"])
    codes_t = _ckpt_tracked(index["codes"])
    frozen = {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        "cells": cells_t.df,
        "codes": codes_t.df,
    }
    qstream = table_stream(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    out = fold_ann_serve(qstream, frozen, nprobe=2, k=5)
    # Finals are a driver-local relation, so the index blocks are dead
    # once the tape drains.
    release_ckpt(spark, cells_t)
    release_ckpt(spark, codes_t)
    return out


def fold_ann_serve_refined(
    query_stream: DataFrame,
    index: dict[str, DataFrame],
    corpus: DataFrame,
    dim: int = 64,
    n_subspaces: int = 8,
    nprobe: int = 2,
    k: int = 5,
    refine_factor: int = 4,
) -> DataFrame:
    """:func:`fold_ann_serve` with the ADC-shortlist exact re-rank
    (FAISS ``IndexRefineFlat`` served streaming): each micro-batch of
    query vectors gets the top ``refine_factor·k`` candidates by
    approximate ADC distance from the frozen index, then exact
    squared-L2 on ONLY those candidates' raw vectors re-ranks the
    shortlist. Per batch the raw-vector fetch is the broadcast-shortlist
    join of ``ann_index_search_refined`` — ``n_queries·refine_factor·k``
    candidate rows read from the vector store, column-pruned to
    (id, vec), the corpus never shuffled. At 100 TB this is the
    refine serving tier: the index answers from ~3% of the bytes and
    the re-rank touches a few hundred full vectors per batch, so the
    recall lift (0.72 vs 0.34 at sf0.01) costs one bounded point read
    per candidate. Finals accumulate driver-side, ≤ k rows per query."""
    from ..operators.similarity import ann_index_search_refined

    spark = query_stream.sparkSession

    def step(rows: list, batch_df: DataFrame) -> list:
        from ..functions.vectorops import as_double_array

        q = batch_df.select(
            F.col("vec_id").alias("query_id"),
            as_double_array("embedding").alias("_e"),
        )
        res = ann_index_search_refined(
            q,
            index,
            corpus,
            dim=dim,
            n_subspaces=n_subspaces,
            nprobe=nprobe,
            k=k,
            refine_factor=refine_factor,
        )
        return rows + [tuple(r) for r in res.collect()]

    rows = fold_stream(query_stream, step, [])
    return spark.createDataFrame(
        rows, "query_id long, vec_id long, exact_units long, rank long"
    )


def _ann_serve_refine_oracle() -> str:
    from .ann_oracles import _ivfpq_refine_oracle

    return _ivfpq_refine_oracle()


@register("streaming_ann_serve_refine", _ann_serve_refine_oracle())
def q_streaming_ann_serve_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFINED STREAMING ANN SERVING: the frozen-index serving tier of
    :func:`q_streaming_ann_serve` upgraded with the exact re-rank —
    train the residual IVF-PQ index once, freeze it, and answer the
    query stream via :func:`fold_ann_serve_refined`. The oracle is
    similarity_ivfpq_refine's verbatim: the refine tier, like the base
    tier, must return exactly what the batch refined search returns
    over the same corpus. Index tables are DISK_ONLY-checkpointed once
    (never retrained per micro-batch) and released at drain; the corpus
    itself is NOT pinned — the per-batch candidate fetch re-reads the
    column-pruned parquet scan, which is precisely the vector-store
    point-read shape the serving tier has at 100 TB."""
    from ..operators import similarity as sim_ops
    from .ann_oracles import _RES_ITERS

    emb = load_table(spark, sf_dir, "embeddings")
    index = sim_ops.train_ann_index(
        emb, dim=64, n_subspaces=8, n_cents=8, n_cells=8, iters=_RES_ITERS
    )
    cells_t = _ckpt_tracked(index["cells"])
    codes_t = _ckpt_tracked(index["codes"])
    frozen = {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        "cells": cells_t.df,
        "codes": codes_t.df,
    }
    qstream = table_stream(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    out = fold_ann_serve_refined(
        qstream, frozen, emb, nprobe=2, k=5, refine_factor=4
    )
    release_ckpt(spark, cells_t)
    release_ckpt(spark, codes_t)
    return out


def fold_bpe_encode(doc_stream: DataFrame, rules: list) -> DataFrame:
    """Serve a FROZEN BPE merge table over a document stream: per
    micro-batch, the batch's distinct words are segmented by the
    trained rules (n_merges chained greedy codegen folds — map-only,
    zero shuffles, the :func:`~..operators.bpe.bpe_encode` contract)
    and the (word, freq) partials accumulate driver-side; at drain one
    merge sums the per-batch frequencies per word. Segmentation is a
    pure function of (word, rules), so every batch re-derives the SAME
    tokens for a word it re-sees — finals ≡ the batch encode of the
    whole corpus, which is what a frozen tokenizer means. At 100 TB
    this is tokenizer serving: the merge table is O(n_merges) driver
    state broadcast into every batch, per-batch cost is a map over the
    batch's words plus a distinct-word collapse, and the vocabulary
    ledger (the only cross-batch state) is word-keyed — bounded by
    vocabulary, not corpus."""
    from ..operators.bpe import bpe_encode, word_freqs

    spark = doc_stream.sparkSession

    def step(partials: list, batch_df: DataFrame) -> list:
        enc = bpe_encode(word_freqs(batch_df), rules).select(
            "word",
            F.col("freq").cast("long").alias("freq"),
            F.size("syms").cast("long").alias("n_tokens"),
            F.concat_ws("|", "syms").alias("tokens"),
        )
        return partials + [tuple(r) for r in enc.collect()]

    part_df = spark.createDataFrame(
        fold_stream(doc_stream, step, []),
        "word string, freq long, n_tokens long, tokens string",
    )
    return part_df.groupBy("word").agg(
        F.sum("freq").cast("long").alias("freq"),
        F.min("n_tokens").cast("long").alias("n_tokens"),
        F.min("tokens").alias("tokens"),
    )


def _bpe_stream_oracle() -> str:
    from .bpe_oracles import _bpe_encode_oracle

    return _bpe_encode_oracle()


@register("streaming_bpe_encode", _bpe_stream_oracle())
def q_streaming_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING BPE ENCODE — the tokenizer twin of the frozen-index
    ANN serving tier: train the merge table once (batch — the offline
    trainer, bpe_train_rules), freeze it, and segment the document
    stream per micro-batch via :func:`fold_bpe_encode`. The oracle is
    bpe_encode_vocab's verbatim: a frozen tokenizer must produce the
    same vocabulary segmentation and corpus frequencies whether the
    corpus arrives as one batch or as a tape of micro-batches (the
    three-batch pytest pins arrival-batching invariance). Completes
    the train/serve/stream triad for tokenization that the ANN family
    already has (train_ann_index / ann_index_search /
    streaming_ann_serve)."""
    from ..operators.bpe import bpe_train_rules
    from .bpe_oracles import _BPE_MERGES

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    rules = bpe_train_rules(docs, _BPE_MERGES)
    return fold_bpe_encode(table_stream(spark, sf_dir, "documents"), rules)
