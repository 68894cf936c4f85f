"""Relational breadth: aggregations, joins, analytic windows, sorts/top-k,
set operations (SURVEY.md §2.3-§2.8) over the TPC-H-ish tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import (
    anti_join,
    asof_join,
    asof_join_bucketed,
    equi_join,
    range_join,
    semi_join,
)
from ..operators.ranking import ntile_expr, with_global_rank
from ..registry import dec_sum, register
from ..sources.batch import load_table


@register(
    "q1_pricing_summary",
    """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)       AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)  AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)
                                                               AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE)
                                                               AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*)      AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*) AS avg_price,
  COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation with exact-decimal sums (TPC-H Q1 shape).

    Plan: scan → partial hash-agg → shuffle on (returnflag, linestatus) →
    final hash-agg; the decimal cast keeps sums bit-identical under any
    partitioning."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        l.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price, 6).alias("sum_disc_price"),
            dec_sum(charge, 6).alias("sum_charge"),
            (dec_sum("l_quantity") / n).alias("avg_qty"),
            (dec_sum("l_extendedprice") / n).alias("avg_price"),
            n.alias("count_order"),
        )
    )


_REVENUE_DEC = "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)"


@register(
    "q3_shipping_priority",
    f"""
SELECT
  l_orderkey,
  {_REVENUE_DEC} AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
""",
)
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join + agg + deterministic top-10 (TPC-H Q3 shape).

    customer is broadcast (small dim); lineitem↔orders is the only shuffle.
    The ORDER BY carries tie-break keys so LIMIT is deterministic."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-15 00:00:00").cast("timestamp_ntz")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        equi_join(o, c, F.col("o_custkey") == F.col("c_custkey"), broadcast_right=True)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(revenue, 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_region_revenue",
    f"""
SELECT
  r_name,
  n_name,
  {_REVENUE_DEC} AS revenue,
  COUNT(*)       AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join rollup through broadcast dims (TPC-H Q5 shape).

    nation/region broadcast (bounded dims); supplier is SF-proportional,
    so it joins AQE-sized — broadcast at small SF by measured size, a
    shuffled join at 100 TB. The fact table is read once."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dec_sum(revenue, 6).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "join_semi_anti",
    """
WITH big_spenders AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000)
SELECT
  c_custkey,
  c_name,
  CASE WHEN c_custkey IN (SELECT o_custkey FROM big_spenders)
       THEN 'has_big_order' ELSE 'no_big_order' END AS bucket
FROM customer
""",
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join pair over the same predicate (EXISTS / NOT EXISTS),
    tagged and unioned so one query witnesses both paths."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    on = F.col("c_custkey") == F.col("o_custkey")
    has = semi_join(c, big, on).withColumn("bucket", F.lit("has_big_order"))
    not_has = anti_join(c, big, on).withColumn("bucket", F.lit("no_big_order"))
    return has.unionByName(not_has).select("c_custkey", "c_name", "bucket")


@register(
    "join_range_shipdelay",
    """
SELECT
  o_orderpriority,
  COUNT(*) AS n_late_items,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS late_value
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate <  o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority
""",
)
def q_join_range_shipdelay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: items shipped 60-90 days after their order.

    The equi key (l_orderkey) keeps this a sort-merge join; the band is a
    residual predicate — no nested-loop explosion (SURVEY §2.3)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
    )
    return (
        range_join(l, o, F.col("l_orderkey") == F.col("o_orderkey"), cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_late_items"),
            dec_sum("l_extendedprice").alias("late_value"),
        )
    )


@register(
    "join_asof_purchase_view",
    """
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
""",
)
def q_join_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior
    view (backward, inclusive). Implemented as union + single window pass —
    one shuffle on user_id, no range explosion (operators/joins.py)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value")
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["value"],
        how="left",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        "asof_ts",
        F.col("asof_value"),
    )


@register(
    "join_asof_bucketed",
    """
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
""",
)
def q_join_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HOT-KEY as-of join: identical semantics (and identical oracle)
    to join_asof_purchase_view, but window partitions are bounded by
    (key, time bucket) so a key with 100× the rows cannot create one
    100×-sized window partition — AQE never splits window partitions,
    so the skew fix is structural (operators/joins.py
    asof_join_bucketed; equivalence on a hot-key corpus asserted in
    tests/test_scale_discipline.py)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value")
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join_bucketed(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["value"],
        how="left",
        bucket_seconds=6 * 3600,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        "asof_ts",
        F.col("asof_value"),
    )


@register(
    "window_running_total",
    """
SELECT
  o_custkey,
  o_orderkey,
  o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER w AS DOUBLE) AS running_spend,
  ROW_NUMBER() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: per-customer cumulative spend + order sequence
    (SURVEY §2.5). One shuffle on o_custkey feeds both window functions."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


@register(
    "window_candle_returns",
    """
WITH candles AS (
  SELECT
    event_type AS symbol,
    date_trunc('hour', ts) AS window_start,
    max(struct_pack(t := ts, p := value)).p AS close
  FROM events GROUP BY 1, 2
)
SELECT
  symbol,
  window_start,
  close,
  lag(close) OVER w                       AS prev_close,
  (close - lag(close) OVER w) / lag(close) OVER w AS pct_return
FROM candles
WINDOW w AS (PARTITION BY symbol ORDER BY window_start)
""",
)
def q_window_candle_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over candles: candle-over-candle percentage returns — the
    natural analytic extension of the reference's domain (SURVEY §2.5)."""
    from ..operators.ohlc import ohlc_candles

    ev = load_table(spark, sf_dir, "events")
    candles = ohlc_candles(
        ev, ts_col="ts", symbol_col="event_type", price_col="value",
        qty_col=None, window_duration="1 hour",
    ).select("symbol", "window_start", "close")
    w = Window.partitionBy("symbol").orderBy("window_start")
    prev = F.lag("close").over(w)
    return candles.select(
        "symbol",
        "window_start",
        "close",
        prev.alias("prev_close"),
        ((F.col("close") - prev) / prev).alias("pct_return"),
    )


@register(
    "topk_per_group",
    """
SELECT p_brand, p_partkey, p_name, p_retailprice, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM part
)
WHERE rk <= 3
""",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number (SURVEY §2.6): the scalable top-k —
    partial top-k per partition, no global sort."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
    )


@register(
    "set_ops_order_status",
    """
WITH f AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
     o AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
SELECT 'both' AS tag, custkey FROM (SELECT custkey FROM f INTERSECT SELECT custkey FROM o)
UNION ALL
SELECT 'f_only' AS tag, custkey FROM (SELECT custkey FROM f EXCEPT SELECT custkey FROM o)
UNION ALL
SELECT 'o_only' AS tag, custkey FROM (SELECT custkey FROM o EXCEPT SELECT custkey FROM f)
""",
)
def q_set_ops_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY §2.7): intersect / except / union over
    customer key sets, tagged so one result witnesses all three."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    o = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    return (
        f.intersect(o).withColumn("tag", F.lit("both"))
        .unionByName(f.exceptAll(o).withColumn("tag", F.lit("f_only")))
        .unionByName(o.exceptAll(f).withColumn("tag", F.lit("o_only")))
        .select("tag", "custkey")
    )


@register(
    "rollup_lineitem",
    """
SELECT
  l_returnflag,
  l_linestatus,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (SURVEY §2.4): subtotal + grand-total rows
    (null-marked) computed in one pass."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"), dec_sum("l_quantity").alias("sum_qty"))
        .select("l_returnflag", "l_linestatus", "n_items", "sum_qty")
    )


@register(
    "cube_orders",
    """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total_value
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations in one pass (SURVEY §2.4)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_value"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "total_value")
    )


@register(
    "pivot_linestatus",
    """
SELECT
  l_returnflag,
  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_O,
  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_F
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per l_linestatus value (explicit value list — at
    scale, always pin pivot values to avoid a planning pass over the data)."""
    l = load_table(spark, sf_dir, "lineitem")
    out = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dec_sum("l_quantity"))
    )
    return out.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


@register(
    "agg_distinct_counts",
    """
SELECT
  l_returnflag,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(DISTINCT l_suppkey) AS n_supps,
  COUNT(*)                  AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (SURVEY §2.4): two DISTINCT columns in one agg
    (Spark plans an expand + two-phase agg)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "percentiles_quantity",
    """
SELECT
  l_returnflag,
  quantile_cont(l_quantity, 0.5)      AS median_qty,
  quantile_cont(l_extendedprice, 0.9) AS p90_price,
  CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
  CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SURVEY §2.4). At 100 TB you'd use
    approx_percentile (t-digest sketch, mergeable) — exact percentile needs
    a full sort of each group; both are exposed, the oracle checks exact."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "scalar_functions",
    """
SELECT
  p_partkey,
  upper(p_brand)                           AS brand_upper,
  substring(p_type, 1, 6)                  AS type_prefix,
  length(p_name)                           AS name_len,
  abs(p_retailprice - 1000.0)              AS price_dist,
  CAST(floor(p_retailprice / 100) AS BIGINT) AS price_band,
  CASE WHEN p_size < 20 THEN 'small'
       WHEN p_size < 40 THEN 'medium'
       ELSE 'large' END                    AS size_bucket,
  p_retailprice * p_size                   AS price_volume
FROM part
""",
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function battery (SURVEY §2.8): string, math, conditional —
    all JVM-side built-ins inside one codegen stage. Transcendentals
    (exp/ln/sqrt) are excluded from the oracle on purpose: libm last-ulp
    differences between engines; they're exercised in tests/ instead."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dist"),
        F.floor(F.col("p_retailprice") / 100).alias("price_band"),
        F.when(F.col("p_size") < 20, "small")
        .when(F.col("p_size") < 40, "medium")
        .otherwise("large")
        .alias("size_bucket"),
        (F.col("p_retailprice") * F.col("p_size")).alias("price_volume"),
    )


@register(
    "date_functions",
    """
SELECT
  year(o_orderdate)    AS order_year,
  month(o_orderdate)   AS order_month,
  dayofweek(o_orderdate) + CASE WHEN dayofweek(o_orderdate) = 0 THEN 0 ELSE 0 END AS order_dow,
  COUNT(*)             AS n_orders
FROM orders
GROUP BY 1, 2, 3
""",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date part extraction + grouped counts (SURVEY §2.8 date/time)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            (F.dayofweek("o_orderdate") - 1).cast("long").alias("order_dow"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "grouping_sets_orders",
    """
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(grouping(o_orderstatus) AS INTEGER)   AS g_status,
  CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total_value
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY §2.4): chosen subtotal combinations
    in one pass, with grouping() markers disambiguating subtotal rows from
    genuine NULL keys."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_value"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "g_status",
            "g_priority",
            "n_orders",
            "total_value",
        )
    )


@register(
    "orderby_limit",
    """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)
def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (SURVEY §2.6): Spark plans TakeOrderedAndProject
    — per-partition top-100 then a driver-side merge of 100-row heaps, so
    no full global sort materializes at any scale. Deterministic via the
    unique o_orderkey tie-break."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


@register(
    "join_full_outer",
    """
SELECT
  c.c_custkey,
  c.c_name,
  o.o_custkey,
  o.n_orders
FROM (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c
FULL OUTER JOIN (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
) o ON c.c_custkey = o.o_custkey
""",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (SURVEY §2.3) with unmatched rows on both sides:
    BUILDING-segment customers vs per-customer order counts."""
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "c_name", "o_custkey", "n_orders"
    )


@register(
    "join_interval_overlap",
    """
WITH iv AS (
  SELECT DISTINCT
         l_orderkey * 10 + l_linenumber AS uid,
         l_suppkey,
         l_shipdate                    AS s,
         l_shipdate + INTERVAL 1 DAY   AS e
  FROM lineitem
)
SELECT DISTINCT a.uid AS uid_a, b.uid AS uid_b, a.l_suppkey AS suppkey
FROM iv a JOIN iv b
  ON a.l_suppkey = b.l_suppkey AND a.uid < b.uid
 AND a.s <= b.e AND b.s <= a.e
""",
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (SURVEY §2.3): same-supplier shipment windows
    [ship, ship+1d] that overlap — bucketized equi-join + band predicate.

    Supplier-only blocking makes candidate volume Σ block² — quadratic in
    per-supplier density (measured 36s at sf0.1). The scalable form adds a
    TIME BUCKET to the equi key: each interval is exploded into the week
    buckets it touches (≤ 2 here, since intervals are 1 day), candidates
    are generated per (supplier, week), the exact overlap predicate runs
    on candidates only, and DISTINCT collapses pairs that met in two
    buckets. Same declared semantics — the oracle is the direct pair
    definition under the same set semantics (the synthetic lineitem has
    duplicate (orderkey, linenumber) rows, so intervals and output pairs
    are both DISTINCT) — but candidate cost is Σ (supplier-week)², which
    is linear in rows for bounded interval length at any scale.
    """
    l = load_table(spark, sf_dir, "lineitem")
    week = lambda c: F.floor(  # noqa: E731
        F.datediff(F.to_date(c), F.lit("1970-01-01")) / 7
    )
    iv = l.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
        "l_suppkey",
        F.col("l_shipdate").alias("s"),
        F.date_add(F.col("l_shipdate"), 1).cast("timestamp_ntz").alias("e"),
    ).distinct().withColumn(
        "bucket",
        F.explode(F.sequence(week(F.col("s")), week(F.col("e")))),
    )
    a = iv.select(
        F.col("uid").alias("uid_a"), F.col("l_suppkey").alias("suppkey"),
        F.col("s").alias("s_a"), F.col("e").alias("e_a"), "bucket",
    )
    b = iv.select(
        F.col("uid").alias("uid_b"), F.col("l_suppkey").alias("b_suppkey"),
        F.col("s").alias("s_b"), F.col("e").alias("e_b"),
        F.col("bucket").alias("b_bucket"),
    )
    return (
        a.join(
            b,
            (F.col("suppkey") == F.col("b_suppkey"))
            & (F.col("bucket") == F.col("b_bucket"))
            & (F.col("uid_a") < F.col("uid_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a")),
        )
        .select("uid_a", "uid_b", "suppkey")
        .distinct()
    )


@register(
    "window_rank_battery",
    """
SELECT
  o_orderkey,
  o_orderpriority,
  rank()         OVER w AS rnk,
  dense_rank()   OVER w AS drnk,
  ntile(4)       OVER w AS quartile,
  percent_rank() OVER w AS pct_rank,
  cume_dist()    OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
""",
)
def q_window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function battery (SURVEY §2.5): rank / dense_rank / ntile /
    percent_rank / cume_dist over one sorted partition pass. Deterministic
    via the unique o_orderkey tie-break; the ratio outputs are single IEEE
    divisions (bitwise cross-engine)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "approx_distinct_parts",
    """
SELECT l_returnflag,
       count(DISTINCT l_partkey)  AS exact_parts,
       count(*)                   AS n_rows,
       TRUE                       AS approx_ok
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, SURVEY §2.4): the mergeable
    sketch that replaces exact COUNT(DISTINCT) at 100 TB (no expand, no
    per-value shuffle — fixed-size sketches merge associatively).

    Oracle strategy: HLL sketches are engine-specific, so the raw
    estimate can't hash-match another engine. Instead the error BOUND is
    made relational: the query emits the exact distinct count plus
    ``approx_ok = |estimate - exact| <= 5% * exact`` (rsd 0.02 keeps the
    estimate far inside 5%), and the oracle asserts the same exact counts
    with ``approx_ok`` literally TRUE — a wrong sketch flips the boolean
    and fails the hash. The exact count exists only as the oracle's
    yardstick; the operator under test is the sketch."""
    l = load_table(spark, sf_dir, "lineitem")
    est = (
        l.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("_approx"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    ok = (
        F.abs(F.col("_approx") - F.col("exact_parts"))
        <= F.lit(0.05) * F.col("exact_parts")
    )
    return est.select("l_returnflag", "exact_parts", "n_rows", ok.alias("approx_ok"))


@register(
    "approx_percentile_audit",
    """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5)  AS exact_p50,
       quantile_cont(l_extendedprice, 0.99) AS exact_p99,
       COUNT(*)                             AS n_rows,
       TRUE                                 AS approx_ok
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_approx_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style mergeable quantile sketch, SURVEY
    §2.4): the fixed-size summary that replaces a full per-group sort at
    100 TB. Completes the sketch battery next to the HLL audit
    (approx_distinct_parts) and the count-min tokens (cms_token_counts).

    Oracle strategy (same as approx_distinct_parts): sketch internals
    are engine-specific, so the ESTIMATE can't hash cross-engine — the
    GUARANTEE can. With accuracy a the rank error is ≤ n/a, i.e. the
    p50 estimate must land inside the exact [p49, p51] value window at
    10x slack (a=1000 → ε=0.001 quantile points; window is ±0.01).
    The query emits ``approx_ok`` = both estimates inside their
    windows; the oracle asserts the same exact percentiles with
    ``approx_ok`` literally TRUE.

    Plan note: the six exact percentiles come from ONE array-argument
    ``percentile`` call — each separate call keeps its own
    per-group value→count map (the whole column, near-all-distinct)
    and sorts it independently, so 6 calls = 6 buffers + 6 sorts; the
    fused call shares one buffer and one sort for all six
    interpolations (~3x at sf0.1 on near-distinct data,
    PLANS.md)."""
    l = load_table(spark, sf_dir, "lineitem")
    ps = F.percentile(
        "l_extendedprice",
        F.array(*[F.lit(x) for x in (0.5, 0.99, 0.49, 0.51, 0.98, 1.00)]),
    )
    est = l.groupBy("l_returnflag").agg(
        ps.alias("_ps"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(1000)
        ).alias("_a50"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.99), F.lit(1000)
        ).alias("_a99"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ok = (
        F.col("_a50").between(F.col("_ps")[2], F.col("_ps")[3])
        & F.col("_a99").between(F.col("_ps")[4], F.col("_ps")[5])
    )
    return est.select(
        "l_returnflag",
        F.col("_ps")[0].alias("exact_p50"),
        F.col("_ps")[1].alias("exact_p99"),
        "n_rows",
        ok.alias("approx_ok"),
    )


@register(
    "error_streaks",
    """
WITH o AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), err AS (
  SELECT user_id, event_id, rn,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
  FROM o WHERE event_type = 'error'
)
SELECT
  user_id,
  count(*)               AS streak_len,
  arg_min(event_id, rn)  AS first_event_id,
  arg_max(event_id, rn)  AS last_event_id
FROM err
GROUP BY user_id, grp
HAVING count(*) >= 3
""",
)
def q_error_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-run detection (gaps-and-islands): maximal runs of >= 3
    consecutive error events per user, in two window passes + one
    aggregation — the declarative form of a per-key state machine."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id", "event_id", "event_type", F.row_number().over(w_all).alias("rn")
    )
    w_err = Window.partitionBy("user_id").orderBy("rn")
    err = o.where(F.col("event_type") == "error").select(
        "user_id",
        "event_id",
        "rn",
        (F.col("rn") - F.row_number().over(w_err)).alias("grp"),
    )
    return (
        err.groupBy("user_id", "grp")
        .agg(
            F.count(F.lit(1)).alias("streak_len"),
            F.min_by("event_id", "rn").alias("first_event_id"),
            F.max_by("event_id", "rn").alias("last_event_id"),
        )
        .where(F.col("streak_len") >= 3)
        .select("user_id", "streak_len", "first_event_id", "last_event_id")
    )


@register(
    "unpivot_lineitem_measures",
    """
WITH agg AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS qty,
         CAST(SUM(CAST(l_discount AS DECIMAL(30,4))) AS DOUBLE) AS discount,
         CAST(SUM(CAST(l_tax AS DECIMAL(30,4))) AS DOUBLE)      AS tax
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'qty' AS measure, qty AS total FROM agg
UNION ALL
SELECT l_returnflag, 'discount', discount FROM agg
UNION ALL
SELECT l_returnflag, 'tax', tax FROM agg
""",
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of pivot, SURVEY §2.4): wide per-flag
    measure columns to long (measure, value) rows via DataFrame.unpivot —
    one pass, no join."""
    l = load_table(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        dec_sum("l_quantity").alias("qty"),
        dec_sum("l_discount").alias("discount"),
        dec_sum("l_tax").alias("tax"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["qty", "discount", "tax"], "measure", "total"
    )


@register(
    "window_trailing_range",
    """
SELECT
  o_custkey,
  o_orderkey,
  o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4)))
    OVER (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
    AS DOUBLE) AS trailing_30d_spend,
  CAST(COUNT(*)
    OVER (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
    AS BIGINT) AS trailing_30d_orders
FROM orders
""",
)
def q_window_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (SURVEY §2.5): per-customer trailing-30-day
    spend — the frame is bounded by the ORDER BY VALUE (event time), not
    row position, so ties and gaps behave correctly. One sort per
    customer partition; exact-decimal running sums."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d_spend"),
        F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
    )


@register(
    "above_avg_orders",
    """
WITH avgs AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) / COUNT(*)
           AS cust_avg
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, a.cust_avg
FROM orders o JOIN avgs a ON o.o_custkey = a.o_custkey
WHERE o.o_totalprice > a.cust_avg
""",
)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative predicate (the correlated-subquery shape): orders
    above their customer's average price. Decorrelated into one aggregate
    + equi-join — what Catalyst does to the subquery form; written
    explicitly so the plan is visible."""
    o = load_table(spark, sf_dir, "orders")
    avgs = o.groupBy(F.col("o_custkey").alias("a_custkey")).agg(
        (dec_sum("o_totalprice") / F.count(F.lit(1))).alias("cust_avg")
    )
    return (
        o.join(avgs, o.o_custkey == avgs.a_custkey)
        .where(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


@register(
    "null_semantics",
    """
WITH t AS (
  SELECT p_partkey,
         CASE WHEN p_size % 3 = 0 THEN NULL ELSE p_size END       AS size_n,
         CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_brand END   AS brand_n
  FROM part
)
SELECT
  p_partkey,
  COALESCE(size_n, -1)                               AS size_or_default,
  CAST(NULLIF(size_n, 25) AS INTEGER)                AS size_nullif_25,
  (size_n IS NOT DISTINCT FROM NULL)                 AS size_is_null_safe,
  (brand_n IS NOT DISTINCT FROM 'Brand#13')          AS brand_eq_null_safe,
  CASE WHEN size_n IS NULL THEN 'missing' ELSE 'present' END AS size_bucket
FROM t
""",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling battery (SURVEY §2.8 predicate surface): coalesce,
    nullif, null-safe equality (<=>), and three-valued CASE — over
    deterministically injected nulls."""
    p = load_table(spark, sf_dir, "part")
    size_n = F.when(F.col("p_size") % 3 == 0, F.lit(None)).otherwise(
        F.col("p_size")
    )
    brand_n = F.when(F.col("p_partkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("p_brand")
    )
    t = p.select("p_partkey", size_n.alias("size_n"), brand_n.alias("brand_n"))
    return t.select(
        "p_partkey",
        F.coalesce(F.col("size_n"), F.lit(-1)).alias("size_or_default"),
        F.nullif(F.col("size_n"), F.lit(25)).cast("int").alias("size_nullif_25"),
        F.col("size_n").eqNullSafe(F.lit(None)).alias("size_is_null_safe"),
        F.col("brand_n").eqNullSafe(F.lit("Brand#13")).alias("brand_eq_null_safe"),
        F.when(F.col("size_n").isNull(), "missing")
        .otherwise("present")
        .alias("size_bucket"),
    )


@register(
    "price_histogram",
    """
SELECT
  CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
  CAST(CAST(floor(l_extendedprice / 5000) AS BIGINT) * 5000.0 AS DOUBLE) AS bin_lo,
  count(*)                                      AS n_items,
  min(l_extendedprice)                          AS bin_min,
  max(l_extendedprice)                          AS bin_max
FROM lineitem
GROUP BY 1, 2
""",
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (SURVEY §2.4 family): one hash aggregation on
    the bin key — the distributed form of a profiling histogram; bins are
    integer arithmetic so the layout is reproducible at any partitioning."""
    l = load_table(spark, sf_dir, "lineitem")
    bin_ = F.floor(F.col("l_extendedprice") / 5000)
    return (
        l.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("l_extendedprice").alias("bin_min"),
            F.max("l_extendedprice").alias("bin_max"),
        )
        .select(
            "bin",
            (F.col("bin") * 5000.0).alias("bin_lo"),
            "n_items",
            "bin_min",
            "bin_max",
        )
    )


@register(
    "funnel_view_purchase",
    """
WITH views AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
), purchases AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
), converted AS (
  SELECT DISTINCT v.user_id
  FROM views v JOIN purchases p
    ON v.user_id = p.user_id
   AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
)
SELECT
  (SELECT count(DISTINCT user_id) FROM views)     AS n_viewers,
  (SELECT count(*) FROM converted)                AS n_converted,
  CAST((SELECT count(*) FROM converted) AS DOUBLE)
    / (SELECT count(DISTINCT user_id) FROM views) AS conversion_rate
""",
)
def q_funnel_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: users who purchased within 24h after a view.
    The step join is an equi-join on user with a time band (semi-join
    shape — each user counted once however many qualifying pairs); the
    rate is one IEEE division of exact counts."""
    e = load_table(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select("user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("ts"))
            & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 24 HOURS")),
            "left_semi",
        )
        .select("user_id")
        .distinct()
    )
    totals = views.agg(F.countDistinct("user_id").alias("n_viewers"))
    conv = converted.agg(F.count(F.lit(1)).alias("n_converted"))
    return totals.crossJoin(conv).select(
        "n_viewers",
        "n_converted",
        (F.col("n_converted").cast("double") / F.col("n_viewers")).alias(
            "conversion_rate"
        ),
    )


@register(
    "window_value_functions",
    """
SELECT
  o_orderkey,
  o_custkey,
  first_value(o_totalprice) OVER w AS first_price,
  last_value(o_totalprice)  OVER w AS last_price,
  nth_value(o_totalprice, 2) OVER w AS second_price,
  lead(o_totalprice, 1, -1.0) OVER w AS next_price,
  lag(o_totalprice, 1, -1.0)  OVER w AS prev_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (SURVEY §2.5): first/last/nth/lead/lag with
    an explicit unbounded frame and unique-key ordering (last_value over
    the default frame is the classic footgun — the frame is spelled out)."""
    order = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    w_framed = (
        Window.partitionBy("o_custkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # lead/lag are offset functions: Spark rejects explicit frames.
    w_offset = Window.partitionBy("o_custkey").orderBy(*order)
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w_framed).alias("first_price"),
        F.last("o_totalprice").over(w_framed).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w_framed).alias("second_price"),
        F.lead("o_totalprice", 1, -1.0).over(w_offset).alias("next_price"),
        F.lag("o_totalprice", 1, -1.0).over(w_offset).alias("prev_price"),
    )


@register(
    "user_event_type_sets",
    """
SELECT
  user_id,
  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
  count(DISTINCT event_type) AS n_types
FROM events
GROUP BY user_id
""",
)
def q_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted set aggregation: per-user distinct event types as a
    canonical comma-joined string (sort makes the nondeterministic
    collect order observable-deterministic). Bounded state: the set is
    capped by the event-type vocabulary, unlike a raw collect_list."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "stats_corr_qty_price",
    """
WITH m AS (
  SELECT l_returnflag,
         count(*)                                                   AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,0)))                     AS sx,
         SUM(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)))   AS sy,
         SUM(CAST(l_quantity AS DECIMAL(18,0))
             * CAST(l_quantity AS DECIMAL(18,0)))                   AS sxx,
         SUM(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))
             * CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS syy,
         SUM(CAST(l_quantity AS DECIMAL(18,0))
             * CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       CAST(CAST(n AS DECIMAL(18,0)) * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(CAST(n AS DECIMAL(18,0)) * sxx - sx * sx AS DOUBLE))
         / sqrt(CAST(CAST(n AS DECIMAL(18,0)) * syy - sy * sy AS DOUBLE))
         AS corr_qty_price
FROM m
""",
)
def q_stats_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group with EXACT integer moments: quantity
    is integral and extendedprice is exact cents, so all five sums are
    decimal-exact and order-independent; the only float ops are the final
    two sqrt-divisions (IEEE-identical cross-engine, same association
    both sides). The built-in corr() accumulates doubles and is
    order-dependent — unusable under a value-hash gate."""
    l = load_table(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(18,0)")
    yd = F.round(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("n").cast("decimal(18,0)")
    numer = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "l_returnflag",
        "n",
        (numer / F.sqrt(dx) / F.sqrt(dy)).alias("corr_qty_price"),
    )


@register(
    "mode_order_priority",
    """
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
FROM (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
  FROM orders GROUP BY 1, 2
)
WHERE rn = 1
""",
)
def q_mode_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE aggregate with a declared tie-break (most frequent value,
    lowest value on count ties) — count + one tiny ranked window over the
    distinct (status, priority) pairs, never over raw rows."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


@register(
    "join_null_safe",
    """
WITH a AS (
  SELECT CASE WHEN p_size % 3 = 0 THEN NULL ELSE p_size % 10 END AS k
  FROM part
), b AS (
  SELECT CASE WHEN s_suppkey % 4 = 0 THEN NULL ELSE s_suppkey % 10 END AS k
  FROM supplier
)
SELECT a.k AS k, COUNT(*) AS n_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
""",
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi join (<=> / IS NOT DISTINCT FROM): nulls match each
    other, so the null bucket joins as a regular key — a distinct plan
    shape from the ordinary equi join, which drops null keys before the
    shuffle. Spark still hash-partitions on the null-safe key, so this
    stays a real equi join, not a nested loop.

    Scale shape: the declared output is the PAIR COUNT per key, and a
    11-value key makes the row-level join many-to-many — Σ|a_k|·|b_k|
    pairs, quadratic in duplication (the 10x sweep measured 27.6x).
    Counts distribute over cross products, so each side aggregates to
    (k, count) FIRST and the null-safe join runs over the two tiny
    count tables: n_pairs = ca·cb, identical output, linear cost."""
    p = load_table(spark, sf_dir, "part").select(
        F.when(F.col("p_size") % 3 == 0, F.lit(None))
        .otherwise(F.col("p_size") % 10)
        .alias("ka")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.when(F.col("s_suppkey") % 4 == 0, F.lit(None))
        .otherwise(F.col("s_suppkey") % 10)
        .alias("kb")
    )
    pa = p.groupBy("ka").agg(F.count(F.lit(1)).alias("_ca"))
    sb = s.groupBy("kb").agg(F.count(F.lit(1)).alias("_cb"))
    return (
        pa.join(F.broadcast(sb), F.col("ka").eqNullSafe(F.col("kb")))
        .select(
            F.col("ka").alias("k"),
            (F.col("_ca") * F.col("_cb")).alias("n_pairs"),
        )
    )


@register(
    "array_functions",
    """
WITH q AS (
  SELECT l_orderkey,
         list_sort(list(CAST(l_quantity AS INTEGER))) AS qs
  FROM lineitem GROUP BY l_orderkey
)
SELECT
  l_orderkey,
  to_json(qs)                                                AS qs_json,
  len(list_filter(qs, x -> x >= 25))                         AS n_big,
  CAST(list_reduce(list_prepend(0, list_transform(qs, x -> x * 2)),
                   (acc, x) -> acc + x) AS BIGINT)           AS doubled_sum,
  (len(list_filter(qs, x -> x >= 49)) > 0)                   AS any_ge_49,
  to_json(qs[1:3])                                           AS first3_json
FROM q
""",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function battery (SURVEY §2.8): collect →
    sort_array (deterministic order) → filter / transform / aggregate /
    slice, all JVM-side lambda expressions with DuckDB list_* twins.
    Group sizes are per-order lineitem counts (bounded, ~4), so the
    collect is not a scale hazard here — the point is the expression
    surface, not the aggregation. Array-typed outputs are serialized with
    ``to_json`` on BOTH sides (identical ``[1,2,3]`` text in Spark and
    DuckDB) so the driver's pandas canonicalizer can sort and hash them —
    raw array columns are unhashable there (round-1 err)."""
    l = load_table(spark, sf_dir, "lineitem")
    q = l.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("int"))).alias("qs")
    )
    qs = F.col("qs")
    return q.select(
        "l_orderkey",
        F.to_json(qs).alias("qs_json"),
        F.size(F.filter(qs, lambda x: x >= 25)).alias("n_big"),
        F.aggregate(
            F.transform(qs, lambda x: x * 2),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("long").alias("doubled_sum"),
        F.exists(qs, lambda x: x >= 49).alias("any_ge_49"),
        F.to_json(F.slice(qs, 1, 3)).alias("first3_json"),
    )


@register(
    "price_histogram_equidepth",
    """
WITH ranked AS (
  SELECT value,
         ntile(10) OVER (ORDER BY value, event_id) AS decile
  FROM events
)
SELECT decile,
       COUNT(*)   AS n_events,
       MIN(value) AS lo,
       MAX(value) AS hi
FROM ranked
GROUP BY decile
""",
)
def q_price_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (deciles of the value distribution) — the twin
    of price_histogram's equi-width buckets, exact ntile semantics WITHOUT
    the global-window scale-killer. Round 1 used ``ntile(10) OVER (ORDER
    BY ...)``: one window partition swallows the whole table. This is the
    scale path: distributed global rank (range partition → parallel local
    row_number → O(#partitions) offset prefix-sum, operators.ranking) and
    ntile computed arithmetically from (rank, total) — bit-identical to
    the window function (the DuckDB oracle still states it as ntile), but
    every corpus-sized stage is parallel."""
    e = load_table(spark, sf_dir, "events")
    ranked = with_global_rank(
        e.select("value", "event_id"),
        ["value", "event_id"],
        rank_col="rn",
        total_col="_total",
    )
    return (
        ranked.select(
            "value", ntile_expr("rn", "_total", 10).alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@register(
    "cohort_retention",
    """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events
)
SELECT cohort_week,
       CAST(datediff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_offset,
       COUNT(*) AS n_active
FROM first_seen JOIN activity USING (user_id)
GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity week, counted in
    each later week they were active — the classic product-analytics
    triangle. Two aggregations over the same (user, week) projection plus
    one equi join on user_id; both week columns are Monday-truncated dates
    so the day-difference is an exact multiple of 7."""
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("active_week"),
        F.col("ts"),
    )
    first_seen = uw.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = uw.select("user_id", "active_week").distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "latest_event_per_user",
    """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot-per-key (the CDC / upsert-compaction shape): keep
    each user's most recent event, ties broken by event_id. One ranked
    window partitioned BY THE KEY — shuffle on user_id, no global sort;
    at scale this is the standard changelog→snapshot compaction and the
    batch twin of dropDuplicates-keep-last."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.select("user_id", "event_id", "ts", "event_type", "value")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _zorder_oracle() -> str:
    from ..operators.layout import z_value_sql

    z = z_value_sql("(l_partkey % 65536)", "(l_suppkey % 65536)")
    return f"""
SELECT {z} // 16777216 AS z_bucket,
       COUNT(*) AS n_rows,
       MIN({z}) AS z_lo,
       MAX({z}) AS z_hi
FROM lineitem
GROUP BY 1
"""


@register("zorder_bucket_counts", _zorder_oracle())
def q_zorder_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) values over (partkey, suppkey), bucketed — the
    clustering key behind multi-column file skipping (operators/layout.py).
    The bit interleave is exact integer arithmetic, replayed by the
    oracle."""
    from ..operators.layout import z_value

    l = load_table(spark, sf_dir, "lineitem")
    z = z_value(F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536)
    return (
        l.select(z.alias("z"))
        .groupBy(F.floor(F.col("z") / 16777216).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("z").alias("z_lo"),
            F.max("z").alias("z_hi"),
        )
    )


@register(
    "orderby_limit_offset",
    """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 15 OFFSET 30
""",
)
def q_orderby_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: deterministic total order + OFFSET/LIMIT (page 3 of 15).
    Spark plans GlobalLimit(offset+limit) over the sorted exchange and
    drops the first `offset` rows — the skip never ships more than one
    page past the boundary. (At scale, keyset pagination — WHERE key >
    last-seen — beats OFFSET; this query is the OFFSET plan-class
    witness.)"""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(30)
        .limit(15)
    )


@register(
    "string_agg_statuses",
    """
SELECT o_orderpriority,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
         AS statuses,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
)
def q_string_agg_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with declared ordering: distinct values sorted
    then joined, so the concatenation is deterministic under any
    partitioning (collect_set order never leaks into the result). The
    per-group distinct domain is tiny (3 statuses) — bounded state."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), "|"
            ).alias("statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "json_roundtrip_lines",
    """
SELECT o.o_orderpriority,
       CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT)                     AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def q_json_roundtrip_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialization losslessness proof: per-order nested documents are
    BUILT in-engine (``to_json`` of a struct holding the order key,
    priority, and a partkey-sorted array of line structs), PARSED back
    (``from_json`` with the explicit schema), exploded, and
    re-aggregated — while the oracle computes the same aggregates
    straight from the base tables, never touching JSON. A hash match
    therefore proves the serialize→parse round trip dropped and mangled
    nothing (quantities survive as exact decimals).

    This is the document-assembly shape of every event-feed export /
    reimport path. Scale: one orderkey-shuffled collect_list whose
    arrays are bounded by order width (≤7 lines in TPC-H — bounded
    collect_list, per the registry discipline), then row-local JSON
    codec and explode; the final aggregate is priority-keyed."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    lines = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_partkey").alias("pk"),
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").alias("qty"),
                    )
                )
            ).alias("lines")
        )
    )
    docs = (
        orders.join(lines, orders["o_orderkey"] == lines["l_orderkey"])
        .select(
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("ok"),
                    F.col("o_orderpriority").alias("prio"),
                    F.col("lines"),
                )
            ).alias("doc")
        )
    )
    schema = (
        "struct<ok:bigint, prio:string, "
        "lines:array<struct<pk:bigint, ln:int, qty:double>>>"
    )
    parsed = docs.select(F.from_json(F.col("doc"), schema).alias("d"))
    exploded = parsed.select(
        F.col("d.ok").alias("ok"),
        F.col("d.prio").alias("prio"),
        F.explode(F.col("d.lines")).alias("line"),
    )
    return exploded.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count_distinct(F.col("ok")).cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("line.qty").cast("decimal(30,4)"))
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "above_p90_lineitems",
    """
WITH thr AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.9) AS p90
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_above,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
         AS revenue_above,
       max(thr.p90) AS p90_price
FROM lineitem l JOIN thr ON l.l_returnflag = thr.l_returnflag
WHERE l.l_extendedprice > thr.p90
GROUP BY l.l_returnflag
""",
)
def q_above_p90_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-decile filter per group: line items priced above their return
    flag's exact p90, with the surviving tail's count and exact-decimal
    revenue — the percentile cousin of above_avg_orders' correlated
    average (thresholds that are ORDER STATISTICS, not moments).

    Plan: the threshold table is one groupBy over ≤|flags| rows joined
    back (AQE broadcasts the 3-row build — no hard hint, per the
    broadcast policy); exact percentile needs each group sorted once,
    the production swap at 100 TB is approx_percentile's mergeable
    t-digest (approx_percentile_audit quantifies that trade)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    thr = l.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90")
    )
    return (
        l.join(thr, "l_returnflag")
        .where(F.col("l_extendedprice") > F.col("p90"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_above"),
            F.sum(F.col("l_extendedprice").cast("decimal(30,4)"))
            .cast("double")
            .alias("revenue_above"),
            F.max("p90").alias("p90_price"),
        )
    )


@register(
    "map_functions_battery",
    """
SELECT user_id, event_type,
       CAST(n * 10 + length(event_type) AS BIGINT) AS score
FROM (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
)
WHERE n >= 2
""",
)
def q_map_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order MAP functions exercised end-to-end:
    ``map_from_entries`` builds a per-user event-type→count map (the
    collect is bounded by the event-type VOCABULARY, not user activity),
    ``map_filter`` drops rare types, ``transform_values`` rescores, and
    exploding the map flattens back to rows. The oracle computes the
    same result straight from GROUP BY + HAVING — a hash match proves
    the whole map round trip (build → filter → transform → explode) is
    semantically lossless, the same oracle trick as
    json_roundtrip_lines.

    Plan: one (user, type) aggregate, one user-keyed map build, then
    row-local map ops — the map layer adds no shuffle."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("event_type"), F.col("n")))
        ).alias("by_type")
    )
    scored = m.select(
        "user_id",
        F.transform_values(
            F.map_filter(F.col("by_type"), lambda k, v: v >= 2),
            lambda k, v: v * 10 + F.length(k),
        ).alias("scores"),
    )
    return scored.select(
        "user_id", F.explode(F.col("scores")).alias("event_type", "score")
    ).select("user_id", "event_type", F.col("score").cast("long").alias("score"))


@register(
    "revenue_growth_mom",
    """
WITH monthly AS (
  SELECT n.n_name,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(30,6))) AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, CAST(date_trunc('month', o.o_orderdate) AS DATE)
)
SELECT n_name, month, revenue,
       lag(revenue) OVER (PARTITION BY n_name ORDER BY month) AS prev_revenue,
       revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY month)
         AS delta,
       revenue / lag(revenue) OVER (PARTITION BY n_name ORDER BY month) - 1
         AS growth
FROM monthly
""",
)
def q_revenue_growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation — the standard BI
    trend query: exact-decimal monthly revenue (order-independent
    bits), then lag/delta/ratio windows over the MONTHLY table (≤
    nations × months rows, each partition a nation — parallel and
    tiny regardless of corpus scale). The discount expression shares
    the q1 scalar shape; growth divides the identical doubles both
    engines produced, so even the ratios hash-match."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    monthly = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "n_name", F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("n_name").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "n_name",
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        (F.col("revenue") - prev).alias("delta"),
        (F.col("revenue") / prev - 1).alias("growth"),
    )


@register(
    "equidepth_bin_apply",
    """
WITH ranked AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS d
  FROM orders
), bnd AS (
  SELECT d, max(o_totalprice) AS ub FROM ranked WHERE d <= 9 GROUP BY d
), ubs AS (
  SELECT list_sort(list(ub)) AS u FROM bnd
), binned AS (
  SELECT 1 + len(list_filter(u, b -> b < l_extendedprice)) AS bin,
         l_extendedprice AS x
  FROM lineitem CROSS JOIN ubs
)
SELECT CAST(bin AS BIGINT) AS bin,
       count(*) AS n_rows,
       min(x)   AS lo,
       max(x)   AS hi
FROM binned GROUP BY 1
""",
)
def q_equidepth_bin_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth binning as FIT + APPLY across tables — the
    discretization shape a feature pipeline actually runs: decile
    boundaries are fitted on the orders price distribution (training
    stats), then APPLIED to lineitem extended prices (serving data),
    reporting per-bin population and value range of the applied side.

    Fit is the distributed-global-rank ntile (operators/ranking.py — no
    single-partition window; the oracle states plain ntile, which the
    two-phase rank reproduces bit-exactly), reduced to the 9 interior
    bucket maxima. Apply is scan-shaped: the boundary list is one
    broadcast 1-row array and bin(x) = 1 + |{ub < x}| is a higher-order
    filter over it — no join, no shuffle on the big side beyond the
    final tiny per-bin rollup. Values equal to a boundary fall in the
    LOWER bin on both engines (strict < rule)."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = with_global_rank(
        o, ["o_totalprice", "o_orderkey"], rank_col="rn", total_col="_total"
    )
    bnd = (
        ranked.select(
            "o_totalprice", ntile_expr("rn", "_total", 10).alias("d")
        )
        .where(F.col("d") <= 9)
        .groupBy("d")
        .agg(F.max("o_totalprice").alias("ub"))
    )
    ubs = bnd.agg(F.sort_array(F.collect_list("ub")).alias("u"))
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    binned = l.crossJoin(F.broadcast(ubs)).select(
        (
            F.lit(1)
            + F.size(F.filter(F.col("u"), lambda b: b < F.col("x")))
        ).cast("long").alias("bin"),
        "x",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )


@register(
    "winsorize_clip",
    """
WITH ranked AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
), bounds AS (
  SELECT
    max(CASE WHEN rn = CAST(ceil(CAST(0.01 AS DOUBLE) * n) AS BIGINT)
             THEN o_totalprice END) AS lo,
    max(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DOUBLE) * n) AS BIGINT)
             THEN o_totalprice END) AS hi
  FROM ranked
)
SELECT
  count(*) AS n_rows,
  any_value(lo) AS p01,
  any_value(hi) AS p99,
  CAST(SUM(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clipped_lo,
  CAST(SUM(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clipped_hi,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) / count(*)
    AS mean_raw,
  CAST(SUM(CAST(least(greatest(o_totalprice, lo), hi) AS DECIMAL(30,4)))
       AS DOUBLE) / count(*) AS mean_clipped
FROM orders CROSS JOIN bounds
""",
)
def q_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping) as FIT + APPLY — the outlier
    guard a feature pipeline runs before normalization: exact rank-based
    p01/p99 bounds (value at rank ceil(q·N) over the (price, orderkey)
    total order — percentile_disc semantics, deterministic under ties),
    then a scan-shaped clamp reporting clip counts and the exact-decimal
    mean before/after.

    The fit uses the distributed two-phase global rank
    (operators/ranking.py — the oracle states plain row_number, which it
    reproduces bit-exactly); the two bound values fold into ONE broadcast
    row, so the apply pass adds no shuffle before the 1-row rollup.
    Means go through the registry's decimal-exact sum discipline."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = with_global_rank(
        o, ["o_totalprice", "o_orderkey"], rank_col="rn", total_col="n"
    )
    at = lambda q: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("o_totalprice"),
        )
    )
    bounds = ranked.agg(at(0.01).alias("lo"), at(0.99).alias("hi"))
    x = F.col("o_totalprice")
    clipped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    dec = lambda c: F.sum(c.cast("decimal(30,4)")).cast("double")  # noqa: E731
    return (
        o.crossJoin(F.broadcast(bounds))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.any_value(F.col("lo")).alias("p01"),
            F.any_value(F.col("hi")).alias("p99"),
            F.sum(F.when(x < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_lo"),
            F.sum(F.when(x > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_hi"),
            (dec(x) / F.count(F.lit(1))).alias("mean_raw"),
            (dec(clipped) / F.count(F.lit(1))).alias("mean_clipped"),
        )
    )
