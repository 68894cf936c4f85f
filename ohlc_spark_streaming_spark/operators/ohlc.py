"""OHLCV candle aggregation — the reference's semantic core.

Reference semantics (``/root/reference/main.py:150-170``):

* tumbling event-time window per symbol (``groupBy(window(ts, dur), base)``,
  ``main.py:162``),
* ``open``  = price at the earliest timestamp, ties broken by LOWEST price,
* ``close`` = price at the latest timestamp,  ties broken by HIGHEST price
  (both fall out of ``array_sort`` over ``(t, p)`` structs,
  ``main.py:153-158`` — lexicographic: timestamp then price),
* ``low``/``high`` = min/max price (``main.py:166-167``),
* ``volume`` = sum(quantity) (``main.py:168``).

Two implementations:

* ``mode="efficient"`` (default): ``open = min(struct(ts, p)).p``,
  ``close = max(struct(ts, p)).p``. Struct min/max is lexicographic, so the
  tie-breaks are identical to the reference — but state is O(1) per group
  instead of the reference's O(#trades) ``collect_list`` buffer
  (SURVEY.md §4.3). At 100 TB this is the difference between a working
  streaming aggregation and an OOM: partial aggregation (map-side combine)
  applies, the shuffle carries one struct per (window, symbol) per map task,
  and the streaming state store holds two scalars per key.
* ``mode="faithful"``: the reference's own
  ``collect_list → array_sort → transform → element_at`` pipeline, kept for
  parity testing only. Do not use on large groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OHLC_COLUMNS = (
    "window_start",
    "window_end",
    "symbol",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "n_trades",
)


def _ts_price(ts_col: str, price_col: str) -> Column:
    return F.struct(F.col(ts_col).alias("t"), F.col(price_col).alias("p"))


def ohlc_aggregates(
    ts_col: str, price_col: str, qty_col: str | None, mode: str = "efficient"
) -> list[Column]:
    """The five OHLCV aggregate expressions plus trade count."""
    if mode == "efficient":
        # min_by/max_by with a (ts, price) struct ORDERING KEY: same
        # lexicographic tie-breaks as struct-min/max. Their buffer holds
        # that struct, which is not hash-aggregable, so every aggregation
        # step plans as SortAggregate (a sort per partition): partial and
        # final in batch; partial, a merge on each side of the state
        # store, and final in the streaming candle query. Duplicate
        # (ts, price) keys all carry the same price value, so the
        # arbitrary row choice among exact key ties is still
        # deterministic in the output.
        open_ = F.min_by(price_col, _ts_price(ts_col, price_col))
        close_ = F.max_by(price_col, _ts_price(ts_col, price_col))
    elif mode == "faithful":
        # Reference expressions verbatim-in-spirit (main.py:153-158):
        # O(n) state; parity testing only.
        pair = f"named_struct('t', {ts_col}, 'p', {price_col})"
        open_ = F.expr(
            f"element_at(transform(array_sort(collect_list({pair})), x -> x.p), 1)"
        )
        close_ = F.expr(
            f"element_at(transform(array_sort(collect_list({pair})), x -> x.p),"
            f" size(collect_list({pair})))"
        )
    else:
        raise ValueError(f"unknown OHLC mode: {mode!r}")

    volume = (
        F.sum(F.col(qty_col)) if qty_col else F.sum(F.lit(1.0))
    )
    return [
        open_.alias("open"),
        F.max(price_col).alias("high"),
        F.min(price_col).alias("low"),
        close_.alias("close"),
        volume.alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
    ]


def ohlc_candles(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "price",
    qty_col: str | None = None,
    window_duration: str = "1 hour",
    slide: str | None = None,
    mode: str = "efficient",
) -> DataFrame:
    """Batch OHLCV candles: one row per (window, symbol).

    ``slide=None`` gives the reference's tumbling windows
    (/root/reference/main.py:162); a ``slide`` shorter than
    ``window_duration`` gives overlapping sliding candles (each event lands
    in ``duration/slide`` windows — Spark expands this before the
    aggregation, so the shuffle carries the expansion but per-group state
    stays O(1)).

    Output columns: ``OHLC_COLUMNS``. The streaming twin is
    ``streaming.candles.streaming_ohlc_candles`` (adds watermark + output
    mode; same aggregate expressions).
    """
    window = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        df.groupBy(
            window.alias("window"),
            F.col(symbol_col).alias("symbol"),
        )
        .agg(*ohlc_aggregates(ts_col, price_col, qty_col, mode))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def ohlc_rollup(candles: DataFrame, coarse: str = "1 hour") -> DataFrame:
    """Merge fine candles into coarser ones (1 min → 1 h): the continuous-
    aggregate / hypertable-rollup pattern.

    OHLCV is MERGEABLE: open of the earliest fine candle is the price at
    the globally earliest timestamp with the reference's tie-break (the
    earliest event lives in the earliest non-empty fine window, and the
    fine open already applied lowest-price-on-tie); symmetrically for
    close; high/low/volume/n_trades are max/min/sums. So a two-level
    rollup is bit-identical to aggregating raw events directly at the
    coarse width — the registered query proves it by sharing the direct
    aggregation's oracle.

    At 100 TB this is the pre-aggregation story: the 1-minute layer is
    ~raw-rows/minute-rate smaller than the event stream, so downstream
    re-windowing (1h, 1d, arbitrary dashboards) reads the rollup, not the
    raw data — same plan class as a streaming state-store compaction.
    """
    w = F.window(F.col("window_start"), coarse)
    fine_open_key = F.struct(F.col("window_start"), F.col("open"))
    fine_close_key = F.struct(F.col("window_start"), F.col("close"))
    return (
        candles.groupBy(w.alias("window"), "symbol")
        .agg(
            F.min_by("open", fine_open_key).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", fine_close_key).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("n_trades").alias("n_trades"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def ohlc_partial_candles(
    df: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "price",
    qty_col: str | None = None,
    window_duration: str = "1 hour",
) -> DataFrame:
    """Mergeable candle STATE for incremental maintenance.

    Same grouping as :func:`ohlc_candles`, but open/close are kept as
    their full ``(t, p)`` extrema KEYS instead of bare prices — the one
    piece of state :func:`ohlc_rollup` gets for free from fine-window
    boundaries and that SAME-window partials need explicitly: merging
    two partials of one window must know which partial saw the earlier
    event. This is exactly the state a streaming aggregation keeps per
    open window; materializing it batch-side is what makes late-batch
    backfill (:func:`ohlc_merge_partials`) an aggregate merge instead
    of a full recompute."""
    window = F.window(F.col(ts_col), window_duration)
    volume = F.sum(F.col(qty_col)) if qty_col else F.sum(F.lit(1.0))
    key = _ts_price(ts_col, price_col)
    return (
        df.groupBy(window.alias("window"), F.col(symbol_col).alias("symbol"))
        .agg(
            F.min_by(key, key).alias("open_key"),
            F.max(F.col(price_col)).alias("high"),
            F.min(F.col(price_col)).alias("low"),
            F.max_by(key, key).alias("close_key"),
            volume.alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "symbol",
            "open_key",
            "high",
            "low",
            "close_key",
            "volume",
            "n_trades",
        )
    )


def ohlc_merge_partial_states(partials: DataFrame) -> DataFrame:
    """State → state: merge partial candles, KEEPING the extrema keys.

    The merge is the candle monoid: min/max of the extrema keys,
    min/max of low/high, sums of volume/count — associative and
    commutative, so ANY partition of the event stream (base + late
    backfill, per-day ingests, per-source loads, micro-batches) merges
    to the same bits as a full recompute.

    Bit-exactness precondition: min/max/count are order-independent
    unconditionally, but ``volume`` is a plain double SUM, which is only
    associative when every addend is exactly representable (integer
    trade counts, or dyadic quantities like k/16 — true of every
    registered use, where volume counts events). For real-valued
    quantities, merge order vs recompute order can differ in the last
    ulp — route such volumes through the registry's decimal-cast sum
    (``registry.dec_sum``) or the quantized-integer-unit discipline
    (operators/graph.py) before relying on bitwise equality. Closed over the partial-state
    shape, so a foreachBatch loop can fold batches into a running state
    table and merge again next batch."""
    return partials.groupBy("window_start", "window_end", "symbol").agg(
        F.min_by("open_key", "open_key").alias("open_key"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close_key", "close_key").alias("close_key"),
        F.sum("volume").alias("volume"),
        F.sum("n_trades").alias("n_trades"),
    )


def ohlc_finalize_partials(partials: DataFrame) -> DataFrame:
    """State → final OHLCV rows (:data:`OHLC_COLUMNS` shape)."""
    return partials.select(
        "window_start",
        "window_end",
        "symbol",
        F.col("open_key.p").alias("open"),
        "high",
        "low",
        F.col("close_key.p").alias("close"),
        "volume",
        "n_trades",
    )


def ohlc_merge_partials(partials: DataFrame) -> DataFrame:
    """Merge same-granularity partial candles into final OHLCV rows —
    :func:`ohlc_merge_partial_states` followed by the final projection.
    One hash exchange on (window, symbol); the registered query proves
    merge ≡ recompute by sharing the flagship's oracle."""
    return ohlc_finalize_partials(ohlc_merge_partial_states(partials))
