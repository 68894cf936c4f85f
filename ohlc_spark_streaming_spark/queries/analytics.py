"""Event-analytics + corpus-forensics queries (round 4 widening).

The operator shapes a production pipeline team reaches for next, after
the SURVEY §2 core is covered:

* substring-span dedup (token-window collisions across documents — the
  scalable analogue of suffix-array training-data dedup),
* a conditional bigram language model (per-head next-token top-k),
* linear quality-classifier scoring (model inference as a scan-shaped
  projection with broadcast weights),
* ordered funnel conversion over the events stream,
* two-pass z-score anomaly detection (tiny stats aggregate broadcast
  back — never a window over a 5-partition skewed key; streaming twin
  in queries/streaming.py),
* forward as-of join with a match tolerance (the other half of the
  reference domain's nearest-event join; operators/joins.py),
* time-series gap fill / forward fill over the candle grid,
* 2D skyline via operators/skyline.py's two-phase distributed
  prefix-min (the quadratic NOT EXISTS never executes),
* blocked fuzzy matching with identical-name collapse (entity
  resolution that stays duplication-invariant),
* BM25 sparse retrieval (log-free odds-ratio idf for cross-engine bit
  parity),
* train/test split leakage audit (MinHash near-dup pairs crossing
  content-hash splits),
* CDC MERGE apply (one union + per-key row_number shuffle — the MoR
  row-version resolution shape),
* SCD2 state historization (both window layers on one exchange),
* nearest as-of with tolerance (completing the merge_asof triad —
  both directional passes share one exchange).

Every query is oracle-backed; determinism discipline follows
registry.py (decimal-exact sums, shared scalar expression shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..operators.dedup import minhash_lsh_pairs
from ..operators.joins import asof_join
from ..operators.skyline import skyline_2d_min
from ..registry import register
from ..sources.batch import load_table
from ._oracles import ANOMALY_ZSCORE_ORACLE
from ._oracles import jaccard_pairs_global_sql as _jaccard_pairs_global_sql
from ._oracles import minhash_pairs_sql as _minhash_pairs_sql

_TOKENS = "string_split(text, ' ')"

# --- substring-span dedup ----------------------------------------------------

_SPAN_K = 8  # tokens per window


@register(
    "dedup_span_windows",
    f"""
WITH wins AS (
  SELECT doc_id,
         CASE WHEN len({_TOKENS}) >= {_SPAN_K}
              THEN list_transform(
                     range(1, len({_TOKENS}) - {_SPAN_K} + 2),
                     i -> array_to_string(
                            list_slice({_TOKENS}, i, i + {_SPAN_K} - 1), ' '))
              ELSE CAST([] AS VARCHAR[]) END AS w
  FROM documents
),
pairs AS (SELECT DISTINCT doc_id, unnest(w) AS win FROM wins),
counts AS (
  SELECT win, count(*) AS n_docs FROM pairs GROUP BY win
)
SELECT
  p.doc_id,
  count(*)                                                AS n_windows,
  CAST(SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_dup_windows,
  SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) / count(*) AS dup_frac
FROM pairs p JOIN counts c USING (win)
GROUP BY p.doc_id
""",
)
def q_dedup_span_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span dedup: the scalable stand-in for suffix-array
    training-data dedup — every 8-token sliding window, counted across
    the corpus; a document's ``dup_frac`` is the share of its distinct
    windows that also appear in some other document.

    Scale: the explode is O(tokens) rows (same budget as shingling);
    per-doc distinctness is IN-ROW (``array_distinct`` before the
    explode — no doc-keyed shuffle); the window-string groupBy is one
    hash shuffle WITH map-side partial aggregation (hot common phrases
    combine before the exchange — skew-safe where a count-over-window
    would funnel a boilerplate phrase into one partition); and the
    probe joins only the FILTERED duplicated-window keys (n_docs >= 2
    — a tiny build side at realistic duplication). No pairwise
    comparison anywhere: 100 TB costs scan + 2 exchanges + 1 pruned
    join, not O(docs^2). Variants measured at sf0.1: count-over-window
    2.5s (skewable), unfiltered join 6.3s, this shape 0.75s."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    wins = F.when(
        n >= _SPAN_K,
        F.transform(
            F.sequence(F.lit(1), n - _SPAN_K + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _SPAN_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = docs.select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("win")
    )
    dup_wins = (
        pairs.groupBy("win")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("win", F.lit(1).alias("_d"))
    )
    is_dup = F.col("_d").isNotNull()
    dup = F.sum(F.when(is_dup, 1).otherwise(0))
    return (
        pairs.join(dup_wins, "win", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            dup.alias("n_dup_windows"),
            (dup / F.count(F.lit(1))).alias("dup_frac"),
        )
    )


@register(
    "dedup_span_extents",
    f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
wins AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(list_slice(t, u.i, u.i + {_SPAN_K} - 1), ' ') AS win
  FROM toks, unnest(range(1, len(t) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(t) >= {_SPAN_K}
),
dup AS (
  SELECT win FROM (SELECT DISTINCT doc_id, win FROM wins)
  GROUP BY win HAVING count(*) >= 2
),
cov AS (
  SELECT w.doc_id, w.pos AS st, w.pos + {_SPAN_K} - 1 AS en
  FROM wins w JOIN dup USING (win)
),
m AS (
  SELECT doc_id, st, en,
         max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM cov
),
isl AS (
  SELECT doc_id, st, en,
         SUM(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
)
SELECT doc_id,
       CAST(island AS BIGINT)              AS island,
       CAST(min(st) AS BIGINT)             AS span_start,
       CAST(max(en) AS BIGINT)             AS span_end,
       CAST(max(en) - min(st) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT)            AS n_windows
FROM isl GROUP BY doc_id, island
""",
)
def q_dedup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span EXTENTS: the production substring-dedup output
    shape (VERDICT r6 item 4). ``dedup_span_windows`` scores documents;
    this query tells downstream exactly WHAT to cut — each maximal run
    of corpus-duplicated 8-token windows, merged into one
    ``[span_start, span_end]`` token interval per document (the
    two-pass suffix-array-dedup answer, re-expressed scan-shaped).

    Plan: pass 1 is the span-windows shape (posexplode of the sliding
    windows, distinct (doc, win) collapse IN-ROW, one map-side-combined
    groupBy to find windows in ≥2 docs); pass 2 joins positions against
    only the FILTERED duplicated-window keys, turns each hit into the
    closed token interval [pos, pos+K-1], and merges intervals per doc
    with operators/sessions.py::interval_union — both window layers of
    the island sweep share ONE (doc, start) sort exchange, partitioned
    by doc_id, so no single-partition window exists anywhere. Output is
    one row per maximal span: cut-ready, O(spans) not O(tokens).

    Adjacency semantics are interval_union's closed-integer rule:
    windows at positions i and i+8 cover [i, i+7] ∪ [i+8, i+15] — no
    uncovered token between them — so they merge into one span;
    ``span_tokens`` is exactly the duplicated-token count of the span.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    spans = _merged_spans(docs)
    return spans.select(
        "doc_id",
        F.col("island").cast("long").alias("island"),
        F.col("island_start").cast("long").alias("span_start"),
        F.col("island_end").cast("long").alias("span_end"),
        (F.col("island_end") - F.col("island_start") + 1)
        .cast("long")
        .alias("span_tokens"),
        F.col("n_intervals").cast("long").alias("n_windows"),
    )


def _merged_spans(docs: DataFrame) -> DataFrame:
    """Shared span-dedup core over any (doc_id, text) frame: sliding
    _SPAN_K-token windows, corpus-duplicated filter (a window counts if
    it appears in ≥2 distinct docs OF THE GIVEN FRAME), and the
    interval-union island merge — one row per maximal duplicated span
    (doc_id, island, island_start, island_end, n_intervals). Single
    source of truth for q_dedup_span_extents, _span_kept
    (dedup_span_cut), and corpus_curation_report; the agreement test in
    tests/test_suffix.py rides on all three sharing this."""
    from ..operators.sessions import interval_union

    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    wins = F.when(
        n >= _SPAN_K,
        F.transform(
            F.sequence(F.lit(1), n - _SPAN_K + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _SPAN_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos_wins = docs.select(
        "doc_id", F.posexplode(wins).alias("pos0", "win")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "win"
    )
    dup_wins = (
        pos_wins.select("doc_id", "win")
        .distinct()
        .groupBy("win")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("win")
    )
    cov = pos_wins.join(dup_wins, "win").select(
        "doc_id",
        F.col("pos").alias("st"),
        (F.col("pos") + _SPAN_K - 1).alias("en"),
    )
    return interval_union(cov, key_col="doc_id", start_col="st", end_col="en")


# --- conditional bigram language model ---------------------------------------


@register(
    "lm_bigram_topk",
    f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
bigrams AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
  FROM toks WHERE len(t) >= 2
),
counted AS (
  SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cnt FROM bigrams GROUP BY 1, 2
)
SELECT w1, w2, cnt, rank FROM (
  SELECT w1, w2, cnt,
         row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2 ASC) AS rank
  FROM counted
) WHERE rank <= 3
""",
)
def q_lm_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram LM: for every head token, the top-3 next
    tokens by corpus count (count desc, token asc — fully tie-broken).

    Scale: bigram explode is O(tokens); ONE count shuffle on (w1, w2)
    with map-side partial aggregation, then a per-w1 top-k window over
    the already-tiny counted table. The window input is |vocab|^2
    bounded, not corpus-sized — ranking never touches raw tokens.
    The bigram array is built by ``zip_with`` over two slices (pure
    array zipping) rather than ``transform(sequence(...))`` with
    positional ``get`` — index lookups are O(n) per element in
    codegen, and the scan fans out (parallelize) so the explode isn't
    one task: together 2.44s -> 0.80s at sf0.1 and 9.0x -> 1.2x at the
    10x point."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bi = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    counted = (
        docs.select(F.explode(bi).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("w1").orderBy(F.col("cnt").desc(), F.col("w2").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("w1", "w2", "cnt", "rank")
    )


# --- linear quality-classifier scoring ----------------------------------------


@register(
    "quality_classifier_bucket",
    f"""
WITH feats AS (
  SELECT doc_id,
         len({_TOKENS}) AS n_tokens,
         len(list_distinct({_TOKENS})) / len({_TOKENS}) AS ttr
  FROM documents
),
scored AS (
  SELECT doc_id,
         0.5 * (least(n_tokens, 100) / 100.0) + 0.375 * ttr AS score
  FROM feats
)
SELECT
  CAST(floor(score * 8) AS BIGINT) AS bucket,
  count(*)                         AS n_docs,
  min(doc_id)                      AS min_doc_id,
  max(doc_id)                      AS max_doc_id
FROM scored
GROUP BY 1
""",
)
def q_quality_classifier_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring as a scan: a fixed linear quality classifier
    (dyadic weights 1/2 and 3/8 over length + lexical-diversity
    features) applied in-row, bucketed to 1/8-score-wide histogram
    bins. The inference-over-corpus shape: weights are literals
    (broadcast in the real deployment), scoring is projection-only —
    no shuffle until the final tiny histogram aggregate.

    Determinism: features are integer-exact ratios; the score is the
    same IEEE expression shape on both engines, so bucket edges agree
    bitwise."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    score = (
        F.lit(0.5) * (F.least(n, F.lit(100)) / F.lit(100.0))
        + F.lit(0.375) * ttr
    )
    return (
        docs.select(
            "doc_id", F.floor(score * 8).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --- ordered funnel conversion -------------------------------------------------


@register(
    "funnel_conversion",
    """
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
),
flags AS (
  SELECT
    CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS s1,
    CASE WHEN t_signup IS NOT NULL AND t_view  > t_signup THEN 1 ELSE 0 END AS s2,
    CASE WHEN t_signup IS NOT NULL AND t_view  > t_signup
          AND t_click > t_view THEN 1 ELSE 0 END AS s3,
    CASE WHEN t_signup IS NOT NULL AND t_view  > t_signup
          AND t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END AS s4
  FROM stages
)
SELECT
  count(*)                 AS n_users,
  CAST(SUM(s1) AS BIGINT)  AS n_signup,
  CAST(SUM(s2) AS BIGINT)  AS n_view_after,
  CAST(SUM(s3) AS BIGINT)  AS n_click_after,
  CAST(SUM(s4) AS BIGINT)  AS n_purchase_after
FROM flags
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose FIRST signup precedes their first
    view precedes their first click precedes their first purchase —
    the standard product-analytics conversion query.

    Scale: conditional min() aggregation gives one hash shuffle on
    user_id with full map-side partial aggregation (4 timestamps per
    user flow through the exchange, not the raw events); the flag
    reduction is a 1-row aggregate. No self-joins, no window over a
    low-cardinality key."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_click") > F.col("t_view"))
    s4 = s3 & (F.col("t_purchase") > F.col("t_click"))
    as_flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(as_flag(s1)).alias("n_signup"),
        F.sum(as_flag(s2)).alias("n_view_after"),
        F.sum(as_flag(s3)).alias("n_click_after"),
        F.sum(as_flag(s4)).alias("n_purchase_after"),
    )


# --- two-pass z-score anomaly detection ----------------------------------------


@register("anomaly_zscore_events", ANOMALY_ZSCORE_ORACLE)
def q_anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass z-score outlier detection per event_type: exact
    decimal-summed mean/variance (order-independent bits), then a
    second scan flags |value - mean| > 3·sd.

    Scale: event_type has ~5 values — a window over it would funnel
    the whole table through 5 partitions. Instead the stats aggregate
    (5 rows) is computed with map-side partials and BROADCAST back to
    the scan, so the flagging pass is shuffle-free and the only wide
    exchange is the tiny final per-type rollup."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(12,6)")
    stats = ev.groupBy("event_type").agg(
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
    flagged = F.abs(F.col("value") - F.col("mean")) > 3 * F.col("sd")
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value(F.col("n")).alias("n_events"),
            F.sum(F.when(flagged, 1).otherwise(0)).alias("n_anomalies"),
            F.min(F.when(flagged, F.col("event_id"))).alias("first_anomaly_id"),
        )
    )


# --- forward as-of join with tolerance -----------------------------------------


@register(
    "join_asof_forward",
    """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
matched AS (
  SELECT p.event_id, p.user_id, p.ts,
         min(CASE WHEN e.event_id IS NULL THEN NULL
                  ELSE struct_pack(t := e.ts, nid := -e.event_id) END) AS m
  FROM purchases p
  LEFT JOIN errors e
    ON p.user_id = e.user_id
   AND e.ts >= p.ts
   AND e.ts <= p.ts + INTERVAL 10 MINUTE
  GROUP BY p.event_id, p.user_id, p.ts
)
SELECT event_id, user_id, ts,
       m.t    AS asof_ts,
       -m.nid AS asof_event_id
FROM matched
""",
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: each purchase matched to the
    user's NEXT error event within 10 minutes (pandas
    ``merge_asof(direction='forward', tolerance=...)`` semantics) —
    e.g. "did a checkout error follow this purchase?".

    Same single-exchange union+window plan as the backward as-of
    (operators/joins.py asof_join, direction='forward'): the oracle's
    range join + argmin is what we deliberately do NOT execute at
    scale. Ties on (user, ts) resolve to the greatest payload struct
    (max event_id) on both sides."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("ts"), F.col("event_id")
    )
    out = asof_join(
        purchases,
        errors,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        how="left",
        direction="forward",
        tolerance=F.expr("INTERVAL 10 MINUTES"),
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "asof_ts",
        F.col("asof_event_id"),
    )


# --- time-series gap filling ----------------------------------------------------



@register(
    "candles_gap_fill",
    """
WITH candles AS (
  SELECT date_trunc('hour', ts) AS window_start,
         event_type             AS symbol,
         max(struct_pack(t := ts, p := value)).p AS close
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT symbol, min(window_start) AS a, max(window_start) AS b
  FROM candles GROUP BY symbol
),
grid AS (
  SELECT symbol, unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS window_start
  FROM spans
)
SELECT g.symbol, g.window_start,
       c.close,
       last_value(c.close IGNORE NULLS)
         OVER (PARTITION BY g.symbol ORDER BY g.window_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill_close,
       c.close IS NULL AS is_gap
FROM grid g LEFT JOIN candles c USING (symbol, window_start)
""",
)
def q_candles_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly grid per symbol (the
    testdata has ~5%% missing hours) with the close price carried
    forward — the resample/ffill step every candle consumer needs
    before charting or joining to a calendar.

    Scale: the grid comes from per-symbol min/max spans (one tiny
    aggregate) exploded via ``sequence()`` — rows generated
    executor-side, proportional to the OUTPUT; the forward fill is
    ``last(close, ignorenulls)`` over a per-symbol window — one hash
    exchange on symbol, no driver materialization."""
    ev = load_table(spark, sf_dir, "events")
    candles = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        F.col("event_type").alias("symbol"),
    ).agg(
        F.max_by("value", F.struct(F.col("ts").alias("t"), F.col("value").alias("p")))
        .alias("close")
    )
    spans = candles.groupBy("symbol").agg(
        F.min("window_start").alias("a"), F.max("window_start").alias("b")
    )
    grid = spans.select(
        "symbol",
        F.explode(
            F.sequence(F.col("a"), F.col("b"), F.expr("INTERVAL 1 HOUR"))
        ).alias("window_start"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(candles, ["symbol", "window_start"], "left").select(
        "symbol",
        "window_start",
        "close",
        F.last("close", ignorenulls=True).over(w).alias("fill_close"),
        F.col("close").isNull().alias("is_gap"),
    )


# --- 2D skyline (Pareto frontier) ------------------------------------------------


@register(
    "skyline_orders",
    """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders b
WHERE NOT EXISTS (
  SELECT 1 FROM orders a
  WHERE a.o_totalprice < b.o_totalprice AND a.o_orderdate < b.o_orderdate
)
""",
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline: orders Pareto-minimal in (price, date) — no other
    order is BOTH strictly cheaper AND strictly earlier.

    The oracle is the textbook NOT EXISTS (quadratic); the engine runs
    the two-phase distributed prefix-min from operators/skyline.py —
    two hash exchanges plus a #buckets-sized global window, never a
    self-join. The pattern generalizes to any min-min/max-max frontier
    (cost vs latency, loss vs size, ...)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return skyline_2d_min(
        orders, x_col="o_totalprice", y_col="o_orderdate", bucket_width=10_000.0
    )


# --- blocked fuzzy matching (entity resolution) -----------------------------------


@register(
    "fuzzy_match_parts",
    """
WITH p AS (
  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk FROM part
),
pairs AS (
  SELECT a.p_partkey AS pk, b.p_partkey AS other,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM p a JOIN p b
    ON a.blk = b.blk AND a.p_partkey != b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 4
)
SELECT pk AS p_partkey,
       count(*)        AS n_matches,
       min(dist)       AS min_dist,
       min(struct_pack(d := dist, k := other)).k AS best_match
FROM pairs GROUP BY pk
""",
)
def q_fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy matching: parts whose names
    are within levenshtein distance 4 of another part in the same
    block (first name token). Per part: match count, closest distance,
    and the deterministic best match (min (dist, key) struct).

    Scale: two layers. (1) The BLOCKING KEY equi-join — candidate
    pairs are generated per block, never corpus x corpus; the edit
    distance runs JVM-side (built-in levenshtein) on blocked
    candidates only. (2) IDENTICAL names collapse to one group before
    the pairwise join (k copies of a name cost ONE distance row, not
    k²) and the per-entity answer is reconstructed algebraically:
    cross-group match counts sum member counts, the deterministic
    best match is the lexicographic min of (dist, key) over the
    intra-group (dist 0, lowest other member) and cross-group
    (dist, lowest member of the matched group) candidates. Same
    duplication-invariance move as the shingle-set and vector
    collapses — SCALE.md's 10x corpus is exactly the k-copies case."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    groups = (
        p.groupBy("blk", "p_name")
        .agg(F.sort_array(F.collect_list("p_partkey")).alias("members"))
        .withColumn("m", F.size("members"))
        .withColumn("min1", F.col("members").getItem(0))
        .withColumn(
            "min2",
            F.when(F.col("m") >= 2, F.col("members").getItem(1)),
        )
    )
    ga = groups.select(
        "blk",
        F.col("p_name").alias("name_a"),
        F.col("members").alias("_ma"),
    )
    gb = groups.select(
        "blk",
        F.col("p_name").alias("name_b"),
        F.size("members").alias("m_b"),
        F.col("members").getItem(0).alias("min1_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    rep_pairs = (
        ga.join(gb, "blk")
        .where((F.col("name_a") != F.col("name_b")) & (dist <= 4))
        .select(
            "blk",
            "name_a",
            F.col("m_b"),
            F.struct(
                dist.cast("int").alias("d"), F.col("min1_b").alias("k")
            ).alias("_cand"),
        )
    )
    cross = rep_pairs.groupBy("blk", "name_a").agg(
        F.sum("m_b").alias("n_cross"),
        F.min("_cand").alias("best_cross"),
    )
    enriched = groups.join(
        cross,
        (groups["blk"] == cross["blk"]) & (groups["p_name"] == cross["name_a"]),
        "left",
    ).select(groups["*"], cross["n_cross"], cross["best_cross"])
    x = F.col("x")
    best_intra = F.when(
        F.col("m") >= 2,
        F.struct(
            F.lit(0).cast("int").alias("d"),
            F.when(x == F.col("min1"), F.col("min2"))
            .otherwise(F.col("min1"))
            .alias("k"),
        ),
    )
    best = F.least(best_intra, F.col("best_cross"))
    n_matches = F.coalesce(F.col("n_cross"), F.lit(0)) + F.col("m") - 1
    return (
        enriched.select(
            F.explode("members").alias("x"),
            "m",
            "min1",
            "min2",
            "n_cross",
            "best_cross",
        )
        .where(n_matches > 0)
        .select(
            x.alias("p_partkey"),
            n_matches.alias("n_matches"),
            best.getField("d").cast("long").alias("min_dist"),
            best.getField("k").alias("best_match"),
        )
    )


# --- BM25 sparse retrieval ------------------------------------------------------

_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter({_TOKENS}, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    # Every operand is forced to DOUBLE with the same association as the
    # Spark expression: DuckDB parses bare numeric literals as DECIMAL and
    # would do exact decimal intermediate math, off by an ulp from IEEE.
    k1p1 = repr(_BM25_K1 + 1.0)
    one_minus_b = repr(1.0 - _BM25_B)
    score = " + ".join(
        f"((CAST(n_docs - df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf{i} AS DOUBLE) * {k1p1})"
        f" / (CAST(tf{i} AS DOUBLE) + {_BM25_K1} * ({one_minus_b}"
        f" + {_BM25_B} * (CAST(dl AS DOUBLE) / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH tf AS (
  SELECT doc_id, len({_TOKENS}) AS dl, {tf_cols} FROM documents
),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(30,0))) AS DOUBLE) / count(*) AS avgdl,
         {df_cols}
  FROM tf
),
scored AS (
  SELECT doc_id, {score} AS score FROM tf, stats
  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
),
top AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, score
FROM top
"""


@register("bm25_search", _bm25_oracle())
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 sparse retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    the lexical complement to the dense similarity_topk family. The idf
    uses the odds-ratio form ``(N - df + 0.5) / (df + 0.5)`` WITHOUT the
    log: rank-equivalent (log is monotone), and log-free keeps the score
    bitwise reproducible across engines (libm vs JVM log differ in the
    last ulp).

    Scale: term frequencies are IN-ROW array filters (terms are
    literals — no explode, no inverted-index shuffle for a 3-term
    query); corpus stats (N, df_t, avgdl — decimal-exact) are ONE tiny
    aggregate row broadcast back; the top-20 runs through
    TakeOrderedAndProject (per-partition partial top-k, never a global
    sort of the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    def term_tf(term: str):
        # NB: a two-parameter lambda would make F.filter pass the element
        # INDEX as the second argument — bind the term via closure instead.
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_exprs = [
        term_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)
    ]
    tf = docs.select("doc_id", F.size(toks).alias("dl"), *tf_exprs)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(30,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5)) / (
            F.col(f"df{i}") + F.lit(0.5)
        )
        term = (
            idf
            * (F.col(f"tf{i}") * F.lit(_BM25_K1 + 1.0))
            / (
                F.col(f"tf{i}")
                + F.lit(_BM25_K1)
                * (
                    F.lit(1.0 - _BM25_B)
                    + F.lit(_BM25_B) * (F.col("dl") / F.col("avgdl"))
                )
            )
        )
        score = term if score is None else score + term
    hit = (F.col("tf0") > 0) | (F.col("tf1") > 0) | (F.col("tf2") > 0)
    top = (
        tf.join(F.broadcast(stats))
        .where(hit)
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "doc_id", "score"
    )


# --- train/test split leakage audit ----------------------------------------------


@register(
    "split_leakage_audit",
    f"""
WITH splits AS (
  SELECT doc_id,
         CASE WHEN {hashing.rolling_hash_sql("text")} % 100 < 80 THEN 'train'
              WHEN {hashing.rolling_hash_sql("text")} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT p.id_a, p.id_b, p.jaccard, sa.split AS split_a, sb.split AS split_b
FROM ({_minhash_pairs_sql(0.7)}) p
JOIN splits sa ON sa.doc_id = p.id_a
JOIN splits sb ON sb.doc_id = p.id_b
WHERE sa.split != sb.split
""",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: MinHash near-dup pairs (jaccard >= 0.7)
    whose two documents landed in DIFFERENT content-hash splits — the
    eval-contamination check every training pipeline should run after
    splitting. Identical texts can never cross (same content hash ⇒
    same split); near-identical ones can, and each such pair is a
    leaked eval document.

    Scale: composition of two already-subquadratic pieces — the
    collapsed LSH pair generation and the in-row split assignment; the
    final split lookup is two hash joins on doc_id."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = minhash_lsh_pairs(docs, threshold=0.7)
    h = hashing.rolling_hash("text") % 100
    splits = docs.select(
        "doc_id",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


# --- CDC MERGE apply --------------------------------------------------------------


@register(
    "cdc_merge_orders",
    """
WITH changes AS (
  SELECT o_orderkey AS k, 'U' AS op,
         o_custkey, 'X' AS o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey + 100000000 AS k, 'I' AS op,
         o_custkey, 'N' AS o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 103 = 0
  UNION ALL
  SELECT o_orderkey AS k, 'D' AS op,
         o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0
),
unioned AS (
  SELECT o_orderkey AS k, 0 AS tag, 'T' AS op,
         o_custkey, o_orderstatus, o_totalprice
  FROM orders
  UNION ALL
  SELECT k, 1 AS tag, op, o_custkey, o_orderstatus, o_totalprice FROM changes
),
resolved AS (
  SELECT k, op, o_orderstatus, o_totalprice,
         row_number() OVER (PARTITION BY k ORDER BY tag DESC, op ASC) AS rn
  FROM unioned
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price,
       min(k) AS min_key,
       max(k) AS max_key
FROM resolved
WHERE rn = 1 AND op != 'D'
GROUP BY o_orderstatus
""",
)
def q_cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: apply a
    deterministic CDC batch (updates: key % 97 -> status 'X'; inserts:
    key % 103 cloned to key+1e8, status 'N'; deletes: key % 101)
    against the orders table and report the post-merge state.

    Scale: the union + per-key row_number(tag DESC) resolution is the
    ONE-SHUFFLE merge — no target anti-join plus union plus second
    join; the change stream and the target flow through a single hash
    exchange on the key, which is exactly how a 100 TB upsert
    compaction wants to run (and how Delta/Iceberg MoR compaction
    resolves row versions). The verifying aggregate is decimal-exact."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
    )
    upd = orders.where(F.col("k") % 97 == 0).select(
        "k", F.lit("U").alias("op"), "o_custkey",
        F.lit("X").alias("o_orderstatus"), "o_totalprice",
    )
    ins = orders.where(F.col("k") % 103 == 0).select(
        (F.col("k") + 100_000_000).alias("k"), F.lit("I").alias("op"),
        "o_custkey", F.lit("N").alias("o_orderstatus"), "o_totalprice",
    )
    dels = orders.where(F.col("k") % 101 == 0).select(
        "k", F.lit("D").alias("op"), "o_custkey", "o_orderstatus", "o_totalprice",
    )
    changes = upd.unionByName(ins).unionByName(dels).withColumn("tag", F.lit(1))
    target = orders.select(
        "k", F.lit("T").alias("op"), "o_custkey", "o_orderstatus", "o_totalprice"
    ).withColumn("tag", F.lit(0))
    # op ASC makes a same-key tie inside one change batch deterministic:
    # 'D' < 'I' < 'U', so a delete beats a simultaneous update (key 0 is
    # divisible by 97 AND 101 — the oracle must agree on who wins).
    w = Window.partitionBy("k").orderBy(F.col("tag").desc(), F.col("op").asc())
    resolved = (
        target.unionByName(changes)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    return resolved.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("double")
        .alias("sum_price"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


# --- SCD2 state history ------------------------------------------------------------


@register(
    "scd2_user_state",
    """
WITH ordered AS (
  SELECT user_id, event_type AS state, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_state
  FROM events
),
changes AS (
  SELECT user_id, state, ts AS valid_from
  FROM ordered
  WHERE prev_state IS NULL OR state != prev_state
)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from) AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from) IS NULL AS is_current
FROM changes
""",
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: each user's event stream
    collapsed into state intervals — consecutive identical states
    merge, each surviving row carries [valid_from, valid_to) and an
    is_current flag. The dimension-table historization every
    warehouse needs.

    Scale: both window layers (change detection, interval close-off)
    share ONE hash exchange on user_id — the change filter preserves
    the partitioning and sort order, so the second WindowExec runs in
    place without a new shuffle. valid_from is unique per user after
    the change filter (it is an event ts), so the lead() is
    deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
            F.lag("event_type").over(w_ord).alias("prev_state"),
        )
        .where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .select("user_id", "state", F.col("ts").alias("valid_from"))
    )
    w_iv = Window.partitionBy("user_id").orderBy("valid_from")
    valid_to = F.lead("valid_from").over(w_iv)
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# --- nearest as-of join ------------------------------------------------------------


@register(
    "join_asof_nearest",
    """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
cand AS (
  SELECT p.event_id, p.user_id, p.ts,
         min(CASE WHEN e.event_id IS NULL THEN NULL ELSE
           struct_pack(d := abs(epoch_us(e.ts) - epoch_us(p.ts)),
                       s := CASE WHEN e.ts <= p.ts THEN 0 ELSE 1 END,
                       t := e.ts,
                       nid := -e.event_id) END) AS m
  FROM purchases p
  LEFT JOIN errors e
    ON p.user_id = e.user_id
   AND e.ts >= p.ts - INTERVAL 10 MINUTE
   AND e.ts <= p.ts + INTERVAL 10 MINUTE
  GROUP BY p.event_id, p.user_id, p.ts
)
SELECT event_id, user_id, ts,
       m.t    AS asof_ts,
       -m.nid AS asof_event_id
FROM cand
""",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of with tolerance: each purchase matched to the
    CLOSEST error event within ±10 minutes, exact-distance ties to the
    backward side (pandas ``merge_asof(direction='nearest')``). The
    as-of triad is complete: backward (join_asof_purchase_view),
    forward (join_asof_forward), nearest.

    Scale: still ONE hash exchange — both directional window passes
    run over the same partitioning (the second WindowExec re-sorts
    locally, no new shuffle; operators/joins.py), and the oracle's
    ±range join + argmin never executes. Tie policy replayed in the
    oracle as an argmin over (distance, side, -event_id)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("ts"), F.col("event_id")
    )
    out = asof_join(
        purchases,
        errors,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        how="left",
        direction="nearest",
        tolerance=F.expr("INTERVAL 10 MINUTES"),
    )
    return out.select("event_id", "user_id", "ts", "asof_ts", F.col("asof_event_id"))


# --- market-basket co-occurrence ----------------------------------------------------


@register(
    "basket_part_pairs",
    """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pc AS (
  SELECT a.p AS pa, b.p AS pb, count(*) AS pair_cnt
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
),
part_cnt AS (SELECT p, count(*) AS cnt FROM op GROUP BY p),
n AS (SELECT count(DISTINCT o) AS n_orders FROM op),
scored AS (
  SELECT pa, pb, pair_cnt,
         CAST(pair_cnt * n.n_orders AS DOUBLE) / (ca.cnt * cb.cnt) AS lift
  FROM pc
  JOIN part_cnt ca ON ca.p = pc.pa
  JOIN part_cnt cb ON cb.p = pc.pb
  CROSS JOIN n
),
top AS (SELECT * FROM scored ORDER BY lift DESC, pa ASC, pb ASC LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY lift DESC, pa ASC, pb ASC) AS BIGINT)
         AS rank,
       pa, pb, pair_cnt, lift
FROM top
""",
)
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: the top-20 part pairs by LIFT
    (P(a,b) / (P(a)P(b))) over order baskets — the co-occurrence mining
    shape behind recommendations and prompt-template mining alike.

    Scale: baskets are generated IN-ROW from each order's sorted
    distinct-part array (higher-order transform over slice — O(k²) per
    order with k bounded by basket size, ~7 in TPC-H, never corpus²);
    one exchange builds the baskets, one counts pairs (map-side
    partials); the 1-row order count is broadcast, while the part-
    frequency tables join AQE-sized (part-proportional — no hard hint);
    the top-20 runs through TakeOrderedAndProject. Lift is
    exact-integer products under a single double division — bitwise
    reproducible."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("pr")
    ).select("pr.pa", "pr.pb")
    pc = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("pair_cnt"))
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    part_cnt = op.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    n_orders = op.agg(F.countDistinct("o").alias("n_orders"))
    ca = part_cnt.select(F.col("p").alias("pa"), F.col("cnt").alias("cnt_a"))
    cb = part_cnt.select(F.col("p").alias("pb"), F.col("cnt").alias("cnt_b"))
    scored = (
        pc.join(ca, "pa")
        .join(cb, "pb")
        .join(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "pair_cnt",
            (
                (F.col("pair_cnt") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.col("lift").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(20)
    w = Window.orderBy(F.col("lift").desc(), F.col("pa").asc(), F.col("pb").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "pa",
        "pb",
        "pair_cnt",
        "lift",
    )


# --- data-quality expectation battery -----------------------------------------------


@register(
    "dq_expectations",
    """
WITH checks AS (
  SELECT 'orders_orderkey_not_null' AS check_name,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
         count(*) AS n_rows
  FROM orders
  UNION ALL
  SELECT 'orders_orderkey_unique',
         CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT),
         CAST(COALESCE(SUM(cnt), 0) AS BIGINT)
  FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'orders_status_accepted_values',
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT),
         count(*)
  FROM orders
  UNION ALL
  SELECT 'lineitem_orphan_orderkeys',
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         count(*)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'lineitem_qty_positive',
         CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
         count(*)
  FROM lineitem
  UNION ALL
  SELECT 'events_ts_in_range',
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2020-01-01 00:00:00'
                         OR ts > TIMESTAMP '2030-01-01 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT),
         count(*)
  FROM events
)
SELECT check_name, n_violations, n_rows,
       n_violations = 0 AS passed
FROM checks
""",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test-style data-quality expectations as ONE relational
    battery: not-null, uniqueness (duplicate-key count), accepted
    values, referential integrity (orphan fact keys), range checks —
    each a (check_name, n_violations, n_rows, passed) row. The shape a
    pipeline gate runs before promoting a dataset.

    Scale: every check is either a scan-shaped conditional aggregate
    (map-side partials, 1-row output) or one key-shuffle (uniqueness
    groupBy, orphan left join); the union of six tiny aggregates is
    free. No check materializes violating ROWS — counts only — so the
    gate's cost is bounded by the scans regardless of how dirty the
    data is."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def check(name, df, violation, n_rows=None):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.sum(F.when(violation, 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
            (n_rows if n_rows is not None else F.count(F.lit(1))).alias("n_rows"),
        )

    not_null = check(
        "orders_orderkey_not_null", orders, F.col("o_orderkey").isNull()
    )
    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.lit("orders_orderkey_unique").alias("check_name"),
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
            .cast("long")
            .alias("n_violations"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_rows"),
        )
    )
    accepted = check(
        "orders_status_accepted_values",
        orders,
        ~F.col("o_orderstatus").isin("O", "F", "P"),
    )
    orphans = check(
        "lineitem_orphan_orderkeys",
        li.join(
            orders.select(F.col("o_orderkey")),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left",
        ),
        F.col("o_orderkey").isNull(),
    )
    qty = check("lineitem_qty_positive", li, F.col("l_quantity") <= 0)
    ts_range = check(
        "events_ts_in_range",
        ev,
        (F.col("ts") < F.lit("2020-01-01 00:00:00").cast("timestamp_ntz"))
        | (F.col("ts") > F.lit("2030-01-01 00:00:00").cast("timestamp_ntz")),
    )
    out = (
        not_null.unionByName(dup)
        .unionByName(accepted)
        .unionByName(orphans)
        .unionByName(qty)
        .unionByName(ts_range)
    )
    return out.withColumn("passed", F.col("n_violations") == 0)


# --- train/test distribution drift ---------------------------------------------------


@register(
    "split_drift_tvd",
    f"""
WITH assigned AS (
  SELECT len({_TOKENS}) AS n_tokens,
         CASE WHEN {hashing.rolling_hash_sql("text")} % 100 < 80 THEN 'train'
              WHEN {hashing.rolling_hash_sql("text")} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
),
bucketed AS (
  SELECT split, CAST(least(n_tokens // 20, 9) AS BIGINT) AS bucket
  FROM assigned
),
dist AS (
  SELECT split, bucket, count(*) AS n,
         CAST(count(*) AS DOUBLE)
           / SUM(count(*)) OVER (PARTITION BY split) AS frac
  FROM bucketed GROUP BY split, bucket
),
tr AS (SELECT bucket, frac AS f_train FROM dist WHERE split = 'train'),
te AS (SELECT bucket, frac AS f_test FROM dist WHERE split = 'test')
SELECT b.bucket,
       COALESCE(tr.f_train, 0.0) AS f_train,
       COALESCE(te.f_test, 0.0)  AS f_test,
       abs(COALESCE(tr.f_train, 0.0) - COALESCE(te.f_test, 0.0)) AS abs_diff
FROM (SELECT DISTINCT bucket FROM bucketed) b
LEFT JOIN tr USING (bucket)
LEFT JOIN te USING (bucket)
""",
)
def q_split_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the train and test splits: document
    length bucketed to 10 fixed-width bins, per-split proportions, and
    the per-bucket |p_train - p_test| whose half-sum is the total
    variation distance — the log-free drift metric (PSI's ln() cannot
    hash-match across engines; TVD is exact-count division only).

    Scale: one scan computes split + bucket in-row; one (split, bucket)
    count with map-side partials; the proportion window runs over the
    ≤30-row distribution table. Drift monitoring at 100 TB costs one
    aggregation pass."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    h = hashing.rolling_hash("text") % 100
    assigned = docs.select(
        F.size(toks).alias("n_tokens"),
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )
    bucketed = assigned.select(
        "split",
        F.least(F.floor(F.col("n_tokens") / 20), F.lit(9)).cast("long").alias("bucket"),
    )
    wsplit = Window.partitionBy("split")
    dist = (
        bucketed.groupBy("split", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "frac", F.col("n").cast("double") / F.sum("n").over(wsplit)
        )
    )
    tr = dist.where(F.col("split") == "train").select(
        "bucket", F.col("frac").alias("f_train")
    )
    te = dist.where(F.col("split") == "test").select(
        "bucket", F.col("frac").alias("f_test")
    )
    buckets = bucketed.select("bucket").distinct()
    f_train = F.coalesce(F.col("f_train"), F.lit(0.0))
    f_test = F.coalesce(F.col("f_test"), F.lit(0.0))
    return (
        buckets.join(tr, "bucket", "left")
        .join(te, "bucket", "left")
        .select(
            "bucket",
            f_train.alias("f_train"),
            f_test.alias("f_test"),
            F.abs(f_train - f_test).alias("abs_diff"),
        )
    )


# --- sessionized funnel ---------------------------------------------------------------

#: Shared with the streaming twin (queries/streaming.py): session_window's
#: merging semantics produce exactly these gaps-and-islands sessions.
SESSION_FUNNEL_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), stages AS (
  SELECT user_id, sid,
         min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM s GROUP BY user_id, sid
)
SELECT
  count(*) AS n_sessions,
  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view,
  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                 AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT)
    AS n_purchase_after
FROM stages
"""


def funnel_rollup(stages: DataFrame) -> DataFrame:
    """Ordered view -> click -> purchase funnel reduction over per-session
    stage timestamps (t_view, t_click, t_purchase) — shared by the batch
    query and the streaming twin; a 1-row aggregate."""
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return stages.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        flag(s1).alias("n_view"),
        flag(s2).alias("n_click_after"),
        flag(s3).alias("n_purchase_after"),
    )


@register("session_funnel", SESSION_FUNNEL_ORACLE)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion WITHIN activity sessions: gap-based
    sessionization (4-hour inactivity, same islands as
    session_windows_user) composed with the ordered view -> click ->
    purchase funnel, per (user, session) — "did the visit convert",
    not "did the user ever convert".

    Scale: sessionization (lag + running sum) and the per-session
    conditional-min aggregate all run on ONE user_id exchange — the
    windows and the groupBy share partitioning; the funnel reduction
    is a 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts")
    gap_break = (
        F.lag("ts").over(w_ord).isNull()
        | (
            F.col("ts") - F.lag("ts").over(w_ord)
            >= F.expr("INTERVAL 4 HOURS")
        )
    )
    with_sid = ev.select(
        "user_id", "ts", "event_type",
        F.when(gap_break, 1).otherwise(0).alias("new_s"),
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    stages = with_sid.groupBy("user_id", "sid").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return funnel_rollup(stages)


# --- inter-arrival gap statistics ----------------------------------------------------

#: Shared with the streaming twin (queries/streaming.py) — the stateful
#: gap extractor must reproduce exactly these window-ordered diffs.
INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT event_type,
       count(gap_us)                               AS n_gaps,
       quantile_cont(gap_us / 1000000.0, 0.5)      AS p50_gap_s,
       quantile_cont(gap_us / 1000000.0, 0.95)     AS p95_gap_s,
       max(gap_us / 1000000.0)                     AS max_gap_s
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


def interarrival_rollup(gaps: DataFrame) -> DataFrame:
    """Percentile/max reduction over (event_type, gap_us) gap rows —
    shared by the batch query and the streaming twin so batch↔stream
    parity is by construction."""
    gap_s = F.col("gap_us") / F.lit(1000000.0)
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.percentile(gap_s, F.lit(0.5)).alias("p50_gap_s"),
        F.percentile(gap_s, F.lit(0.95)).alias("p95_gap_s"),
        F.max(gap_s).alias("max_gap_s"),
    )


@register("interarrival_stats", INTERARRIVAL_ORACLE)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: exact p50/p95/max
    of the per-user gap between consecutive events of the same type —
    the latency/heartbeat profile behind SLO monitoring and
    sessionization-gap tuning.

    Scale: gaps are a lag window on (user, type) — one hash exchange;
    the percentile aggregate groups by the 5-value type over scalar
    gaps (exact percentile sorts within each small group; at 100 TB
    swap in approx_percentile's mergeable t-digest, same query shape).
    Gaps are computed in exact integer microseconds and divided once —
    bit-stable across engines."""
    ev = load_table(spark, sf_dir, "events")
    gaps = ev.select(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " lag(ts) OVER (PARTITION BY user_id, event_type"
            " ORDER BY ts, event_id), ts)"
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return interarrival_rollup(gaps)


# --- robust (MAD) anomaly detection on candles ---------------------------------------

#: Shared with the streaming twin (queries/streaming.py): the stream
#: produces the same hourly (window_start, symbol, n_trades) candles, so
#: the identical oracle applies.
MAD_OUTLIER_ORACLE = """
WITH candles AS (
  SELECT date_trunc('hour', ts) AS window_start,
         event_type             AS symbol,
         count(*)               AS n_trades
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT symbol, quantile_cont(n_trades, 0.5) AS med FROM candles GROUP BY symbol
),
mad AS (
  SELECT c.symbol, any_value(m.med) AS med,
         quantile_cont(abs(c.n_trades - m.med), 0.5) AS mad
  FROM candles c JOIN med m USING (symbol)
  GROUP BY c.symbol
)
SELECT c.symbol,
       count(*) AS n_hours,
       CAST(SUM(CASE WHEN abs(c.n_trades - d.med) > 3 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       min(CASE WHEN abs(c.n_trades - d.med) > 3 * d.mad
                THEN c.window_start END) AS first_outlier
FROM candles c JOIN mad d USING (symbol)
GROUP BY c.symbol
"""


def mad_outlier_rollup(candles: DataFrame) -> DataFrame:
    """Per-symbol MAD outlier reduction over (window_start, symbol,
    n_trades) candle rows — shared by the batch query and the streaming
    twin. The median and MAD tables are per-symbol TINY aggregates
    broadcast-joined back; exact medians sort only per-symbol hourly
    counts (at 100 TB swap approx_percentile in — same shape)."""
    med = candles.groupBy("symbol").agg(
        F.percentile("n_trades", F.lit(0.5)).alias("med")
    )
    mad = (
        candles.join(F.broadcast(med), "symbol")
        .groupBy("symbol")
        .agg(
            F.any_value(F.col("med")).alias("med"),
            F.percentile(F.abs(F.col("n_trades") - F.col("med")), F.lit(0.5))
            .alias("mad"),
        )
    )
    out = F.abs(F.col("n_trades") - F.col("med")) > 3 * F.col("mad")
    return (
        candles.join(F.broadcast(mad), "symbol")
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.when(out, 1).otherwise(0)).alias("n_outliers"),
            F.min(F.when(out, F.col("window_start"))).alias("first_outlier"),
        )
    )


@register("candle_mad_outliers", MAD_OUTLIER_ORACLE)
def q_candle_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on the candle series: hourly trade
    counts more than 3 MAD (median absolute deviation) from the
    per-symbol median — the heavy-tail-safe complement to
    anomaly_zscore_events (a single spike inflates a z-score's sd but
    barely moves MAD).

    Scale: candles are one exchange; the median and MAD tables are
    per-symbol TINY aggregates joined back broadcast-style; the exact
    medians sort only per-symbol hourly counts (at 100 TB swap
    approx_percentile in — same shape). All arithmetic is exact
    integer counts under interpolated quantiles shared by both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    candles = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        F.col("event_type").alias("symbol"),
    ).agg(F.count(F.lit(1)).alias("n_trades"))
    return mad_outlier_rollup(candles)


# --- hierarchy rollup (recursive aggregation) --------------------------------


@register(
    "part_hierarchy_rollup",
    """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS node, p_partkey AS anc FROM part
  UNION ALL
  SELECT node, anc // 10 FROM anc WHERE anc // 10 >= 1
)
SELECT a.anc AS p_partkey,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(p.p_retailprice AS DECIMAL(30,2))) AS DOUBLE)
         AS subtree_retail,
       MAX(p.p_size) AS max_size
FROM anc a JOIN part p ON a.node = p.p_partkey
GROUP BY a.anc
""",
)
def q_part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive subtree aggregation over a parent-pointer hierarchy —
    the ``WITH RECURSIVE`` shape (BOM explosion, category taxonomy,
    org-chart rollup) Spark has no native construct for. The hierarchy
    is the decimal-digit tree over part keys (parent = key DIV 10), so
    both engines derive identical edges from the same scan; each node
    reports count / exact-decimal retail sum / max size over its full
    subtree including itself.

    The oracle recurses level-by-level (depth d iterations); the engine
    runs POINTER DOUBLING (operators/hierarchy.py) — ⌈log2 d⌉ + 1
    equi-join shuffles with per-round lineage truncation — the shape
    that keeps a 40-level hierarchy at 6 shuffle stages on 100 TB.
    Descendant-side aggregation is ONE hash join (closure ⋈ measures) +
    one groupBy; nothing pairwise."""
    from ..operators.hierarchy import subtree_rollup
    from ..registry import dec_sum

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    edges = p.select(
        "p_partkey", F.expr("p_partkey DIV 10").alias("parent")
    ).where(F.col("parent") >= 1)
    return subtree_rollup(
        p,
        edges,
        "p_partkey",
        "parent",
        [
            F.count(F.lit(1)).alias("n_parts"),
            dec_sum("p_retailprice", 2).alias("subtree_retail"),
            F.max("p_size").alias("max_size"),
        ],
    )


# --- token co-occurrence lift ------------------------------------------------


@register(
    "cooc_lift_topk",
    """
WITH toks AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
pairs AS (
  SELECT unnest(flatten(list_transform(
           ts, (a, i) -> list_transform(
                 list_slice(ts, i + 1, len(ts)), b -> {'a': a, 'b': b})))) AS p
  FROM toks
),
pc AS (
  SELECT p.a AS tok_a, p.b AS tok_b, count(*) AS n_ab FROM pairs GROUP BY 1, 2
),
tc AS (
  SELECT tok, count(*) AS n
  FROM (SELECT doc_id, unnest(ts) AS tok FROM toks)
  GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs FROM toks)
SELECT tok_a, tok_b, n_ab,
       (n_ab * n_docs) / (na.n * nb.n) AS lift
FROM pc
CROSS JOIN tot
JOIN tc na ON pc.tok_a = na.tok
JOIN tc nb ON pc.tok_b = nb.tok
ORDER BY lift DESC, tok_a ASC, tok_b ASC
LIMIT 50
""",
)
def q_cooc_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence lift (log-free PMI): for each unordered token
    pair, P(a,b) / (P(a)·P(b)) over document-level presence — the
    collocation-mining signal a corpus audit uses to spot boilerplate
    phrases and template artifacts. Top 50 by lift with full
    lexicographic tie-break (deterministic limit).

    Scale shape: per-document pair generation is IN-ROW (sorted distinct
    tokens → combination arrays → one explode) so there is no doc-keyed
    self-join; cost is Σ_d k_d² rows where k_d is per-doc DISTINCT
    vocabulary — bounded by min(doc length, corpus vocab), and the pair
    groupBy gets map-side partial aggregation (hot pairs combine before
    the exchange). Lift is one exact-integer multiply/divide: n_ab·N and
    n_a·n_b are bigints, the single double division is deterministic."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    ts = F.array_sort(F.array_distinct(F.split(F.col("text"), " ")))
    toks = docs.select("doc_id", ts.alias("ts"))
    pairs = toks.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ts",
                    lambda a, i: F.transform(
                        F.slice(F.col("ts"), i + 2, F.size("ts")),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    pc = pairs.groupBy(
        F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b")
    ).agg(F.count(F.lit(1)).alias("n_ab"))
    tc = toks.select(F.explode("ts").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_docs = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    na = tc.select(F.col("tok").alias("tok_a"), F.col("n").alias("_na"))
    nb = tc.select(F.col("tok").alias("tok_b"), F.col("n").alias("_nb"))
    return (
        pc.crossJoin(F.broadcast(n_docs))
        .join(na, "tok_a")
        .join(nb, "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            ((F.col("n_ab") * F.col("n_docs")) / (F.col("_na") * F.col("_nb"))).alias(
                "lift"
            ),
        )
        .orderBy(F.col("lift").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(50)
    )


# --- inverted index (IR family) ----------------------------------------------

_CHAMP_K = 8  # champion-list depth


@register(
    "inverted_index_champions",
    f"""
WITH tf AS (
  SELECT tok AS term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
ranked AS (
  SELECT term, doc_id, tf,
         ROW_NUMBER() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id ASC) AS rk
  FROM tf
)
SELECT r.term, r.rk, r.doc_id, r.tf, d.df
FROM ranked r JOIN df d USING (term)
WHERE r.rk <= {_CHAMP_K}
""",
)
def q_inverted_index_champions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion-list inverted index (IR: top-k posting prefix per term):
    each term's 8 highest-tf documents plus its document frequency —
    the pre-materialized artifact a ranked-retrieval engine probes
    instead of full posting lists.

    Skew safety comes from Catalyst, not hand-salting: a row_number
    window immediately filtered to ≤ k plans as WindowGroupLimit with a
    PARTIAL pass before the exchange (Spark 3.5+) — every map task
    keeps only its local top-k per term, so a hot term ships
    k·n_tasks rows, never its full df. (A hand-salted two-phase
    variant was measured: one exchange MORE for the same pruning —
    deleted.) The df table is a map-side-combinable count joined back
    AQE-sized — it is VOCAB-proportional, so no hard broadcast hint."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    ranked = (
        tf.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _CHAMP_K)
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return ranked.join(df_tbl, "term").select(
        "term", "rk", "doc_id", "tf", "df"
    )


_CONJ_TERMS = ("table", "scan", "window")


@register(
    "conjunctive_search",
    """
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x = 'table'))  AS tf_table,
       len(list_filter(string_split(text, ' '), x -> x = 'scan'))   AS tf_scan,
       len(list_filter(string_split(text, ' '), x -> x = 'window')) AS tf_window
FROM documents
WHERE len(list_filter(string_split(text, ' '), x -> x = 'table')) > 0
  AND len(list_filter(string_split(text, ' '), x -> x = 'scan')) > 0
  AND len(list_filter(string_split(text, ' '), x -> x = 'window')) > 0
""",
)
def q_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND retrieval (the other half of the IR surface next to
    bm25_search's ranked OR): documents containing EVERY query term,
    with per-term tf. Execution is scan-shaped — in-row token filters,
    no explode, no shuffle at all; the conjunctive predicate drops
    non-matching documents at the scan. At 100 TB this is the shape
    that wins whenever the term set is given at plan time; probing the
    pre-built champion index (inverted_index_champions) wins only when
    the corpus scan itself is the bottleneck."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    # Closure binding, NOT `lambda x, t=t`: a two-parameter higher-order
    # lambda receives (element, index) and would silently shadow `t`.
    def tf_of(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tfs = {t: tf_of(t) for t in _CONJ_TERMS}
    out = docs.select(
        "doc_id", *[tfs[t].cast("long").alias(f"tf_{t}") for t in _CONJ_TERMS]
    )
    cond = F.lit(True)
    for t in _CONJ_TERMS:
        cond = cond & (F.col(f"tf_{t}") > 0)
    return out.where(cond)


# --- graph centrality --------------------------------------------------------


@register(
    "pagerank_copurchase",
    """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
deg AS (SELECT src, count(*) AS deg FROM pairs GROUP BY 1),
nn AS (SELECT count(*) AS n FROM deg),
pr0 AS (
  SELECT src AS node, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM deg, nn
),
c1 AS (
  SELECT p.dst AS node,
         CAST(SUM(CAST(floor(pr0.pr / d.deg * 1e15 + CAST(0.5 AS DOUBLE))
                       AS BIGINT)) AS DOUBLE) / 1e15 AS s
  FROM pairs p
  JOIN pr0 ON p.src = pr0.node
  JOIN deg d ON p.src = d.src
  GROUP BY 1
),
pr1 AS (
  SELECT pr0.node,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           + CAST(0.85 AS DOUBLE) * coalesce(c1.s, CAST(0.0 AS DOUBLE)) AS pr
  FROM pr0 LEFT JOIN c1 USING (node), nn
),
c2 AS (
  SELECT p.dst AS node,
         CAST(SUM(CAST(floor(pr1.pr / d.deg * 1e15 + CAST(0.5 AS DOUBLE))
                       AS BIGINT)) AS DOUBLE) / 1e15 AS s
  FROM pairs p
  JOIN pr1 ON p.src = pr1.node
  JOIN deg d ON p.src = d.src
  GROUP BY 1
),
pr2 AS (
  SELECT pr1.node,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           + CAST(0.85 AS DOUBLE) * coalesce(c2.s, CAST(0.0 AS DOUBLE)) AS pr
  FROM pr1 LEFT JOIN c2 USING (node), nn
)
SELECT pr2.node AS p_partkey, d.deg AS degree, pr2.pr AS pr
FROM pr2 JOIN deg d ON pr2.node = d.src
""",
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph centrality (operators/graph.py): 2-iteration PageRank over
    the part co-purchase graph — parts are linked when they appear in
    the same order; symmetric edges, so there are no dangling nodes.
    The centrality side of graph work next to the connected-components
    reachability family; the co-purchase importance signal behind
    "staple part" detection and recommendation seeding.

    The oracle unrolls the power iteration as two CTE levels with the
    SAME integer-unit contribution sums (floor(pr/deg · 1e15 + 0.5) —
    see operators/graph.py's determinism note on why double→decimal
    casts can't be used here), so ranks hash bit-identically.
    Scale: the edge list is Σ_orders k² with k = order size (bounded by
    basket width, ≤ 7 in TPC-H); each iteration is one edges⋈ranks hash
    join + a map-side-combinable destination aggregate."""
    from ..operators.graph import pagerank

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("src")
    )
    b = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("dst")
    )
    pairs = (
        a.join(b, "_ok")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    pr = pagerank(pairs, n_iter=2)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return pr.join(deg, pr["node"] == deg["src"]).select(
        F.col("node").alias("p_partkey"), "degree", "pr"
    )


_BFS_HOPS = 6


@register(
    "bfs_distance_copurchase",
    f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
seedt AS (SELECT min(src) AS s FROM pairs),
walk AS (
  SELECT s AS node, CAST(0 AS BIGINT) AS d FROM seedt
  UNION
  SELECT p.dst, w.d + 1
  FROM walk w JOIN pairs p ON p.src = w.node
  WHERE w.d < {_BFS_HOPS}
)
SELECT node AS p_partkey, min(d) AS dist FROM walk GROUP BY node
""",
)
def q_bfs_distance_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the part co-purchase graph: hop distance
    from the lowest-keyed part to every part reachable within 6 hops —
    the graph-distance side of the family (components = reachability,
    PageRank = centrality, BFS = proximity; operators/graph.py).

    The oracle is a genuine recursive CTE (UNION-distinct walk, capped
    at 6 hops so it terminates on the cyclic graph; min over path
    lengths = BFS level). The engine runs level-synchronous frontier
    expansion: each round joins only the NEWLY reached frontier against
    the edge list — cost is frontier out-degree, not graph size — with
    an anti-join against the settled set and per-round lineage
    truncation."""
    from ..operators.graph import bfs_distances

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("src")
    )
    b = l.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("dst")
    )
    pairs = (
        a.join(b, "_ok")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .persist()
    )
    seed = pairs.agg(F.min("src")).first()[0]  # bounded scalar
    out = bfs_distances(pairs, seed=seed, max_hops=_BFS_HOPS)
    pairs.unpersist()
    return out.select(F.col("node").alias("p_partkey"), "dist")


@register(
    "minhash_recall_audit",
    f"""
WITH ex AS (
  SELECT id_a, id_b FROM ({_jaccard_pairs_global_sql(0.5)})
),
got AS (
  SELECT id_a, id_b FROM ({_minhash_pairs_sql(0.5)})
)
SELECT
  count(*) AS n_true,
  CAST(SUM(CASE WHEN g.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_found,
  CAST(SUM(CASE WHEN g.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    / count(*) AS recall
FROM ex
LEFT JOIN got g ON ex.id_a = g.id_a AND ex.id_b = g.id_b
""",
)
def q_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine auditing its own approximation: exact global Jaccard
    pairs (J ≥ 0.5, prefix-filtered PPJoin) left-joined against the
    MinHash-LSH verified pairs at the same threshold — LSH pairs are
    verified candidates, hence a SUBSET of the truth, so the join
    measures recall directly (banding controls it: a true pair is
    missed only when no band collides). The production knob-tuning
    report for the 100 TB dedup path, run on a sample before committing
    band parameters — both inputs are the already-subquadratic pair
    generators SHARING one persisted shingle-set pass
    (operators.dedup.minhash_recall), composed with one hash join and a
    1-row aggregate."""
    from ..operators.dedup import minhash_recall

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return minhash_recall(docs, threshold=0.5)


# --- spatial ----------------------------------------------------------------


@register(
    "spatial_neighbor_pairs",
    """
WITH pts AS (
  SELECT c_custkey AS id,
         (c_custkey * 48271) % 10000 AS x,
         (c_custkey * 69621) % 10000 AS y
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
FROM pts a JOIN pts b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 22500
""",
)
def q_spatial_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial distance self-join: all customer pairs within planar
    distance 150 on a synthetic 10000² integer grid (coordinates derived
    from the key so both engines see identical points). The oracle
    states the quadratic definition; execution is the grid-blocked join
    (operators/spatial.py) — cells sized to the radius, probe side
    expanded to its 3×3 neighborhood, one cell equi-join, exact integer
    distance verification inside the bounded candidate set. The geo
    twin of the near-dup discipline: never all pairs, always
    block-then-verify. Note the OUTPUT is quadratic in point density
    by definition (k points in a radius ⇒ k² qualifying pairs — the
    10x sweep densifies the same grid 10x and lands at ~12x, which is
    the answer growing, not the join); production keeps density
    constant by sizing the grid to the data, exactly as LSH bands are
    sized to duplication."""
    from ..operators.spatial import grid_distance_join

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 48271) % 10000).alias("x"),
        ((F.col("c_custkey") * 69621) % 10000).alias("y"),
    )
    return grid_distance_join(c, radius=150)


@register(
    "stats_chi2_independence",
    """
WITH obs AS (
  SELECT c_mktsegment AS seg, o_orderstatus AS status, count(*) AS o
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY 1, 2
),
margins AS (
  SELECT seg, status, o,
         SUM(o) OVER (PARTITION BY seg)    AS row_tot,
         SUM(o) OVER (PARTITION BY status) AS col_tot,
         SUM(o) OVER ()                    AS n
  FROM obs
),
cells AS (
  SELECT seg, status, o,
         CAST(row_tot AS DOUBLE) * col_tot / n AS expected,
         (o - CAST(row_tot AS DOUBLE) * col_tot / n)
           * (o - CAST(row_tot AS DOUBLE) * col_tot / n)
           / (CAST(row_tot AS DOUBLE) * col_tot / n) AS contrib
  FROM margins
)
SELECT count(*) AS n_cells,
       CAST(SUM(CAST(floor(contrib * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT))
            AS DOUBLE) / 1e9 AS chi2
FROM cells
""",
)
def q_stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic between customer market segment
    and order status — the categorical drift/association test a DQ suite
    runs next to the TVD split check (split_drift_tvd). Contingency
    counts are one hash aggregate; the margins are tiny windowed sums
    over ≤ |segments|·|statuses| cells; per-cell contributions are
    deterministic double arithmetic from integer counts, and the final
    reduction uses the integer 1e-9-unit quantized sum (the
    order-independent float-sum discipline of operators/graph.py)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    obs = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_tot = F.sum("o").over(Window.partitionBy("seg"))
    col_tot = F.sum("o").over(Window.partitionBy("status"))
    n = F.sum("o").over(Window.partitionBy())
    expected = row_tot.cast("double") * col_tot / n
    contrib = (F.col("o") - expected) * (F.col("o") - expected) / expected
    cells = obs.select("seg", "status", "o", contrib.alias("contrib"))
    units = F.floor(F.col("contrib") * F.lit(1.0e9) + F.lit(0.5)).cast("bigint")
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.sum(units).cast("double") / F.lit(1.0e9)).alias("chi2"),
    )


@register(
    "funnel_timed",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 1 HOUR
  GROUP BY 1
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click_1h,
       (SELECT count(*) FROM p) AS n_purchase_1h
""",
)
def q_funnel_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMED funnel: first view → first click strictly after it and
    within ONE HOUR → first purchase within one hour of that click.
    Genuinely sequential semantics (each stage's deadline depends on
    the previous stage's chosen event), which the independent
    conditional-min funnel (funnel_conversion) cannot express.

    Scale: each stage is one filtered scan joined to the previous
    stage's per-user row. Stage tables are USER-proportional, so they
    carry NO hard broadcast hint (VERDICT r5: a forced broadcast of a
    per-user aggregate OOMs at 100×); AQE broadcasts them while they fit
    and co-partitions on user_id otherwise — three narrow stage joins,
    no window over raw events."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    hour = F.expr("INTERVAL 1 HOUR")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + hour))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where((F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + hour))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_1h"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_1h"))
    return nv.crossJoin(nc).crossJoin(np_)


# --- graph structure: triangles (round 6) ------------------------------------


@register(
    "triangle_count_copurchase",
    """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
und AS (SELECT src AS u, dst AS v FROM pairs WHERE src < dst),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
oe AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS b,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN dv.deg ELSE du.deg END AS rb
  FROM und e
  JOIN deg du ON e.u = du.node
  JOIN deg dv ON e.v = dv.node
),
tri AS (
  SELECT w1.a AS a, w1.b AS y, w2.b AS z
  FROM oe w1
  JOIN oe w2 ON w1.a = w2.a
            AND (w1.rb < w2.rb OR (w1.rb = w2.rb AND w1.b < w2.b))
  JOIN oe c ON c.a = w1.b AND c.b = w2.b
),
cnt AS (
  SELECT node, count(*) AS n FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY node
)
SELECT d.node AS p_partkey, d.deg AS degree,
       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN cnt ON d.node = cnt.node
""",
)
def q_triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph
    (operators/graph.py triangle_counts): the local clustering signal —
    "are this part's co-purchase neighbors also co-purchased with each
    other" — that separates hub parts (high degree, few triangles) from
    community parts (dense neighborhoods). Completes the graph family:
    components = reachability, PageRank = centrality, BFS = proximity,
    triangles = cohesion.

    The oracle replays the SAME degree-ordered orientation
    (compact-forward) as the operator, so candidate wedges — not just
    the final counts — agree; all arithmetic is exact integers."""
    from ..operators.graph import triangle_counts

    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("src"))
    b = l.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("dst"))
    pairs = (
        a.join(b, "_ok")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return triangle_counts(pairs).select(
        F.col("node").alias("p_partkey"),
        F.col("deg").alias("degree"),
        "n_triangles",
    )


# --- interval union coverage (round 6) ---------------------------------------


@register(
    "ship_interval_coverage",
    """
WITH iv AS (
  SELECT DISTINCT l.l_suppkey AS s,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS st,
         date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) AS en
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
),
m AS (
  SELECT s, st, en,
         max(en) OVER (PARTITION BY s ORDER BY st, en
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM iv
),
isl AS (
  SELECT s, st, en,
         SUM(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY s ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
per_island AS (
  SELECT s, island,
         min(st) AS ist, max(en) AS ien, count(*) AS n_iv
  FROM isl GROUP BY s, island
)
SELECT s AS l_suppkey,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(n_iv) AS BIGINT) AS n_intervals,
       CAST(sum(ien - ist + 1) AS BIGINT) AS covered_days
FROM per_island GROUP BY s
""",
)
def q_ship_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (the sweep-line classic): per supplier,
    the number of distinct calendar days with at least one shipment IN
    FLIGHT (order placed, not yet shipped) — overlapping
    [orderdate, shipdate] intervals merged into islands and measured.
    The generalization of gaps-and-islands from points to variable-
    length intervals; the same shape computes sensor uptime, ad-spend
    active windows, and SLA coverage.

    Plan (operators/sessions.py interval_union): one orders⋈lineitem
    equi-join, a DISTINCT interval collapse, then BOTH window layers
    (running-max-end for island flags, running flag sum for island ids)
    share ONE (s, st, en) sort exchange; per-supplier partitions keep
    every window parallel — no single-partition window anywhere. Day
    numbers are exact integers, so the island algebra is bit-identical
    in both engines."""
    from ..operators.sessions import interval_union
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    epoch = F.lit("1970-01-01").cast("date")
    iv = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("l_suppkey").alias("s"),
            F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("st"),
            F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("en"),
        )
        .distinct()
    )
    per_island = interval_union(iv, key_col="s", start_col="st", end_col="en")
    return per_island.groupBy(F.col("s").alias("l_suppkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n_intervals").cast("long").alias("n_intervals"),
        F.sum(F.col("island_end") - F.col("island_start") + F.lit(1))
        .cast("long")
        .alias("covered_days"),
    )


# --- zone-map / data-skipping audit (round 6) --------------------------------

#: Zone-map audit knobs: rows-per-"file" proxies and the probe predicate.
_ZM_ARRIVAL_CHUNK = 1024  # orderkeys per arrival-order file
_ZM_DAYS_CHUNK = 64  # shipdate days per clustered file
_ZM_LO, _ZM_HI = "1998-06-01", "1998-06-30"


@register(
    "zonemap_prune_audit",
    f"""
WITH base AS (
  SELECT l_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day
  FROM lineitem
),
bounds AS (
  SELECT date_diff('day', DATE '1970-01-01', DATE '{_ZM_LO}') AS lo,
         date_diff('day', DATE '1970-01-01', DATE '{_ZM_HI}') AS hi
),
tagged AS (
  SELECT 'arrival' AS layout, l_orderkey // {_ZM_ARRIVAL_CHUNK} AS file_id, day
  FROM base
  UNION ALL
  SELECT 'clustered' AS layout, CAST(day // {_ZM_DAYS_CHUNK} AS BIGINT)
           AS file_id, day
  FROM base
),
files AS (
  SELECT layout, file_id,
         min(day) AS mn, max(day) AS mx,
         count(*) AS n_rows,
         CAST(sum(CASE WHEN day BETWEEN b.lo AND b.hi THEN 1 ELSE 0 END)
              AS BIGINT) AS n_match
  FROM tagged, bounds b
  GROUP BY layout, file_id, b.lo, b.hi
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN mn <= b.hi AND mx >= b.lo THEN 1 ELSE 0 END)
            AS BIGINT) AS files_scanned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN mn <= b.hi AND mx >= b.lo THEN n_rows ELSE 0 END)
            AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       CAST(sum(CASE WHEN mn <= b.hi AND mx >= b.lo THEN n_rows ELSE 0 END)
            AS BIGINT) / CAST(sum(n_rows) AS BIGINT) AS scan_frac
FROM files, bounds b
GROUP BY layout
""",
)
def q_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping audit: how many file-level zone maps (per-file
    min/max of the predicate column) would prune a 30-day shipdate
    probe, under two physical layouts of the SAME rows — 'arrival'
    (files = ingestion order, i.e. orderkey ranges) vs 'clustered'
    (files = shipdate ranges). The ratio between the two scan_frac
    rows is the measured value of re-clustering — the audit a lakehouse
    table-maintenance job runs before deciding to OPTIMIZE/Z-ORDER a
    100 TB table (operators/layout.py holds the z-order side).

    Plan: one scan, one groupBy per layout (unioned BEFORE the
    aggregate so both share a stage), then a 2-row summary — the file
    stats table is #files-sized, never rows-sized. All day arithmetic
    is exact integers; scan_frac divides exact longs."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1970-01-01").cast("date")
    day = F.datediff(F.col("l_shipdate").cast("date"), epoch)
    lo = F.datediff(F.lit(_ZM_LO).cast("date"), epoch)
    hi = F.datediff(F.lit(_ZM_HI).cast("date"), epoch)
    base = li.select(
        "l_orderkey", day.alias("day"), lo.alias("lo"), hi.alias("hi")
    )
    arrival = base.select(
        F.lit("arrival").alias("layout"),
        F.expr(f"l_orderkey DIV {_ZM_ARRIVAL_CHUNK}").alias("file_id"),
        "day",
        "lo",
        "hi",
    )
    clustered = base.select(
        F.lit("clustered").alias("layout"),
        F.expr(f"day DIV {_ZM_DAYS_CHUNK}").cast("bigint").alias("file_id"),
        "day",
        "lo",
        "hi",
    )
    files = (
        arrival.unionByName(clustered)
        .groupBy("layout", "file_id", "lo", "hi")
        .agg(
            F.min("day").alias("mn"),
            F.max("day").alias("mx"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("day").between(F.col("lo"), F.col("hi")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_match"),
        )
    )
    scanned = (F.col("mn") <= F.col("hi")) & (F.col("mx") >= F.col("lo"))
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.when(scanned, 1).otherwise(0)).cast("long").alias(
            "files_scanned"
        ),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matched"),
        (
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0)).cast("long")
            / F.sum("n_rows").cast("long")
        ).alias("scan_frac"),
    )


# --- bloom-filter semi-join prune audit (round 7) ----------------------------

_BLOOM_LO, _BLOOM_HI = "1995-03-01", "1995-03-31"


def _bloom_oracle() -> str:
    from ..operators.sketches import bloom_positions_sql

    pos = bloom_positions_sql("key")
    return f"""
WITH bkeys AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
  WHERE o_orderdate BETWEEN DATE '{_BLOOM_LO}' AND DATE '{_BLOOM_HI}'
),
bpos AS (SELECT DISTINCT unnest({pos}) AS pos FROM bkeys),
probe AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
ppos AS (SELECT key, unnest({pos}) AS pos FROM probe),
cand AS (
  SELECT p.key,
         count(*) AS n_pos,
         sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM ppos p LEFT JOIN bpos b ON p.pos = b.pos
  GROUP BY p.key
),
flags AS (
  SELECT c.key, (c.n_hit = c.n_pos) AS is_cand, (t.key IS NOT NULL) AS is_true
  FROM cand c LEFT JOIN bkeys t ON c.key = t.key
)
SELECT
  CAST(count(*) AS BIGINT) AS n_probe_keys,
  CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
  CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  CAST(sum(CASE WHEN is_cand AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos,
  CAST(sum(CASE WHEN is_true AND NOT is_cand THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_neg,
  CASE WHEN count(*) - sum(CASE WHEN is_true THEN 1 ELSE 0 END) = 0
       THEN CAST(0 AS DOUBLE)
       ELSE CAST(sum(CASE WHEN is_cand AND NOT is_true THEN 1 ELSE 0 END)
                 AS DOUBLE)
            / CAST(count(*) - sum(CASE WHEN is_true THEN 1 ELSE 0 END)
                   AS DOUBLE) END AS fp_rate
FROM flags
"""


@register("bloom_prune_audit", _bloom_oracle())
def q_bloom_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prune audit (completes the sketch battery:
    HLL approx_distinct_parts, KLL approx_percentile_audit, CMS
    cms_token_counts — this is the MEMBERSHIP sketch). A bloom built
    from one month of order keys is probed by every lineitem key; the
    audit reports candidates vs exact semi-join truth — n_false_neg
    must be 0 (the bloom guarantee) and fp_rate is the measured cost of
    the m/k geometry. This is the data-skipping decision a 100 TB scan
    makes before shipping a shuffled semi-join (Spark's own
    runtime-bloom rule is plan-tested in test_scale_discipline.py; this
    query makes the construction itself oracle-checkable).

    Plan: the bit-position table is bounded by m = 16384 rows — a
    DECLARED CONSTANT, so the probe side joins a broadcast build no
    matter the corpus size; probe cost is k·|keys| narrow rows with
    map-side combine into per-key hit counts. Everything is modular
    integer arithmetic, bit-identical in both engines."""
    from ..operators.sketches import bloom_positions

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between(_BLOOM_LO, _BLOOM_HI)
    )
    bkeys = orders.select(F.col("o_orderkey").alias("key")).distinct()
    bpos = (
        bkeys.select(F.explode(bloom_positions(F.col("key"))).alias("pos"))
        .distinct()
        .withColumn("_b", F.lit(1))
    )
    probe = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("key"))
        .distinct()
    )
    ppos = probe.select(
        "key", F.explode(bloom_positions(F.col("key"))).alias("pos")
    )
    cand = (
        ppos.join(F.broadcast(bpos), "pos", "left")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0)).alias(
                "n_hit"
            ),
        )
    )
    flags = cand.join(
        bkeys.withColumn("_t", F.lit(1)), "key", "left"
    ).select(
        (F.col("n_hit") == F.col("n_pos")).alias("is_cand"),
        F.col("_t").isNotNull().alias("is_true"),
    )
    n_true = F.sum(F.when(F.col("is_true"), 1).otherwise(0))
    n_fp = F.sum(F.when(F.col("is_cand") & ~F.col("is_true"), 1).otherwise(0))
    n_all = F.count(F.lit(1))
    return flags.agg(
        n_all.cast("long").alias("n_probe_keys"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
        .cast("long")
        .alias("n_candidates"),
        n_true.cast("long").alias("n_true"),
        n_fp.cast("long").alias("n_false_pos"),
        F.sum(F.when(F.col("is_true") & ~F.col("is_cand"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_neg"),
        F.when((n_all - n_true) == 0, F.lit(0.0))
        .otherwise(n_fp.cast("double") / (n_all - n_true).cast("double"))
        .alias("fp_rate"),
    )


# --- compaction planning (round 6) -------------------------------------------

_COMPACT_TARGET = 20_000  # target chars per output file


@register(
    "compaction_plan",
    f"""
WITH c AS (
  SELECT source, doc_id, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior
  FROM documents
)
SELECT source,
       CAST(coalesce(prior, 0) // {_COMPACT_TARGET} AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c
GROUP BY source, bin_id
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: pack each source's documents, in
    stable ingest order, into target-size output files by EXCLUSIVE
    running-size binning (bin = prior-bytes DIV target) — the planning
    step of a lakehouse OPTIMIZE job, and the file-level sibling of
    pack_sequences' token packing. A bin's last member may straddle the
    target (files are approximately sized, never split a row), and the
    assignment is a pure function of the sorted prefix — deterministic
    across engines, reruns, and partitionings.

    Plan: ONE running-sum window partitioned by source (parallel, no
    single-partition window — per-source file lists are the unit a
    compactor schedules anyway) feeding one groupBy. Output is
    #bins-sized. The zonemap_prune_audit twin measures WHY compaction
    pays: fewer, larger, better-clustered files prune harder."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = docs.withColumn("prior", F.coalesce(F.sum("n_chars").over(w), F.lit(0)))
    return (
        c.withColumn(
            "bin_id", F.expr(f"prior DIV {_COMPACT_TARGET}").cast("bigint")
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --- link prediction (round 6) -----------------------------------------------

_LP_PIVOT_CAP = 64  # pivots with degree above this are skipped (stop-nodes)
_LP_TOPK = 20


@register(
    "link_predict_copurchase",
    f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
),
deg AS (SELECT src AS node, count(*) AS deg FROM pairs GROUP BY src),
piv AS (
  SELECT p.src AS a, p.dst AS n
  FROM pairs p JOIN deg d ON p.src = d.node
  WHERE d.deg <= {_LP_PIVOT_CAP}
),
cn AS (
  SELECT w1.n AS y, w2.n AS z, count(*) AS common_n
  FROM piv w1 JOIN piv w2 ON w1.a = w2.a AND w1.n < w2.n
  GROUP BY w1.n, w2.n
),
cand AS (
  SELECT cn.y, cn.z, cn.common_n
  FROM cn
  LEFT JOIN pairs e ON e.src = cn.y AND e.dst = cn.z
  WHERE e.src IS NULL AND cn.common_n >= 2
)
SELECT c.y AS part_a, c.z AS part_b, c.common_n,
       CAST(c.common_n AS BIGINT)
         / (dy.deg + dz.deg - c.common_n) AS jaccard
FROM cand c
JOIN deg dy ON c.y = dy.node
JOIN deg dz ON c.z = dz.node
ORDER BY jaccard DESC, common_n DESC, part_a, part_b
LIMIT {_LP_TOPK}
""",
)
def q_link_predict_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: top-20 NON-adjacent
    part pairs by neighborhood Jaccard (common co-purchase partners /
    union of partners) — the "customers who bought these also bought
    each other's pairings" recommender seed.

    Scale discipline: common-neighbor generation is inherently
    Σ deg(pivot)² wedges, so pivots above a declared degree cap are
    DROPPED (stop-node removal, the similarity-join stopword analogue —
    a hub co-purchased with everything carries no signal and would
    alone generate a quadratic wedge set). The cap is part of the
    declared semantics and the oracle applies the same cap, so results
    match bit-for-bit. Remaining stages: one capped wedge self-join,
    an anti-join against existing edges, two degree joins, and a
    TakeOrdered top-k — no full sort, no driver loop."""
    from ..operators.dedup import persist_tracked
    from ..sources.batch import load_table as _lt

    l = _lt(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("src"))
    b = l.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("dst"))
    # the edge list is read by the degree count, the pivot filter, AND
    # the anti-join; the degree table by the pivot filter and both score
    # joins — persist both so the lineitem self-join runs once, not four
    # times (tracked, reclaimed by release_caches between bench queries)
    pairs = persist_tracked(
        a.join(b, "_ok")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    deg = persist_tracked(
        pairs.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    )
    piv = (
        pairs.join(deg, pairs["src"] == deg["node"])
        .where(F.col("deg") <= _LP_PIVOT_CAP)
        .select(F.col("src").alias("a"), F.col("dst").alias("n"))
    )
    w1 = piv.select("a", F.col("n").alias("y"))
    w2 = piv.select("a", F.col("n").alias("z"))
    cn = (
        w1.join(w2, "a")
        .where(F.col("y") < F.col("z"))
        .groupBy("y", "z")
        .agg(F.count(F.lit(1)).alias("common_n"))
    )
    cand = cn.join(
        pairs,
        (cn["y"] == pairs["src"]) & (cn["z"] == pairs["dst"]),
        "left_anti",
    ).where(F.col("common_n") >= 2)
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    dz = deg.select(F.col("node").alias("z"), F.col("deg").alias("dz"))
    scored = (
        cand.join(dy, "y")
        .join(dz, "z")
        .select(
            F.col("y").alias("part_a"),
            F.col("z").alias("part_b"),
            "common_n",
            (
                F.col("common_n").cast("long")
                / (F.col("dy") + F.col("dz") - F.col("common_n"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(),
        F.col("common_n").desc(),
        "part_a",
        "part_b",
    ).limit(_LP_TOPK)


@register(
    "daily_active_cumulative",
    """
WITH fs AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
d AS (SELECT day, count(*) AS new_users FROM fs GROUP BY day)
SELECT day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM d
""",
)
def q_daily_active_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct-users per day — the growth curve every
    product dashboard wants, computed WITHOUT a running COUNT(DISTINCT)
    (which would hold per-day user sets in window state): distinct is
    reduced FIRST to each user's first-seen day (one user-keyed
    aggregate), then a per-day count and a running sum over the
    #days-sized daily table. The only unpartitioned window runs over
    that calendar-bounded aggregate — thousands of rows at any corpus
    scale — never over raw events."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    fs = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("day"))
    d = fs.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@register(
    "event_transition_matrix",
    """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
cnt AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST(n AS BIGINT)
         / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob
FROM cnt
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the statistic behind
    next-action prediction features, journey clustering, and anomaly
    scoring of improbable transitions.

    Plan: ONE (user_id)-keyed sort exchange serves the lead() window
    (ties broken by event_id for a total, engine-independent order);
    transitions then reduce in a (from, to)-keyed aggregate — at most
    |event types|² rows — and the row-probability window runs over that
    tiny matrix, not over events. Exact counts; prob divides exact
    longs."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    cnt = (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrow = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        (
            F.col("n").cast("long")
            / F.sum("n").over(wrow).cast("long")
        ).alias("prob"),
    )


@register(
    "split_drift_ks",
    f"""
WITH assigned AS (
  SELECT len(string_split(text, ' ')) AS n_tokens,
         CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc*31 + c) % 1000000007) % 100 < 80 THEN 'train'
              WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc*31 + c) % 1000000007) % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
),
bucketed AS (
  SELECT split, CAST(least(n_tokens // 20, 9) AS BIGINT) AS bucket
  FROM assigned
),
cnts AS (
  SELECT bucket,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS ntr,
         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS nte
  FROM bucketed GROUP BY bucket
),
cum AS (
  SELECT bucket,
         CAST(SUM(ntr) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ctr,
         CAST(SUM(nte) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cte
  FROM cnts
),
tot AS (
  SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS ttr,
         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS tte
  FROM bucketed
),
d AS (SELECT bucket, abs(ctr / ttr - cte / tte) AS gap FROM cum, tot)
SELECT (min(struct_pack(g := -gap, b := bucket))).b AS at_bucket,
       max(gap) AS ks_stat,
       (SELECT ttr FROM tot) AS n_train,
       (SELECT tte FROM tot) AS n_test
FROM d
""",
)
def q_split_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov drift statistic between the train and test
    splits: the max ECDF gap over the bucketed document-length
    distribution — the cumulative complement of split_drift_tvd's
    pointwise TVD (KS catches location shifts that per-bucket diffs
    smear out). Log-free by construction: ECDFs are exact-count
    divisions, the argmax tie-breaks to the smallest bucket via the
    struct-min discipline, so both engines agree to the bit.

    Scale: one scan computes split + bucket in-row; the cumulative
    window and argmax run over the ≤10-row bucket grid."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    h = hashing.rolling_hash("text") % 100
    assigned = docs.select(
        F.size(toks).alias("n_tokens"),
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
        .alias("split"),
    )
    bucketed = assigned.select(
        "split",
        F.least(F.floor(F.col("n_tokens") / 20), F.lit(9))
        .cast("long")
        .alias("bucket"),
    )
    cnts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("ntr"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("nte"),
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnts.select(
        "bucket",
        F.sum("ntr").over(wcum).cast("long").alias("ctr"),
        F.sum("nte").over(wcum).cast("long").alias("cte"),
    )
    tot = bucketed.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("ttr"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("tte"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.abs(
            F.col("ctr") / F.col("ttr") - F.col("cte") / F.col("tte")
        ).alias("gap"),
        "ttr",
        "tte",
    )
    return d.agg(
        F.min(
            F.struct((-F.col("gap")).alias("g"), F.col("bucket").alias("b"))
        )["b"].alias("at_bucket"),
        F.max("gap").alias("ks_stat"),
        F.max("ttr").alias("n_train"),
        F.max("tte").alias("n_test"),
    )


# --- snapshot diff (round 7, session 2) --------------------------------------


@register(
    "snapshot_diff_orders",
    """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp FROM orders
),
newsnap AS (
  SELECT k, 'U' AS st, tp + 1.0 AS tp FROM base WHERE k % 89 = 0
  UNION ALL
  SELECT k, st, tp FROM base WHERE k % 89 <> 0 AND k % 91 <> 0
  UNION ALL
  SELECT k + 100000000 AS k, 'N' AS st, tp FROM base WHERE k % 93 = 0
),
d AS (
  SELECT coalesce(b.k, n.k) AS k,
         CASE WHEN b.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN b.st IS DISTINCT FROM n.st
                   OR b.tp IS DISTINCT FROM n.tp THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM base b FULL OUTER JOIN newsnap n ON b.k = n.k
)
SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
       min(k) AS min_key, max(k) AS max_key
FROM d GROUP BY change_type ORDER BY change_type
""",
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the lakehouse regression test (and the inverse of
    cdc_merge_orders' MERGE apply): two table versions full-outer-joined
    on the key, every row classified added / removed / changed /
    unchanged by null-safe column comparison, reported as per-class
    counts with key extents. The "new" version is derived
    deterministically from the base (update keys % 89, delete keys % 91,
    insert clones of keys % 93 at key+1e8) so both engines diff
    identical inputs.

    Plan: one full outer hash join on the key — the diff never
    materializes row pairs beyond the join itself, and the classifier is
    a null-safe scan expression (``<=>``), so the whole audit is
    join + map-side-combinable count. At 100 TB both sides would be
    bucketed on the key and the join exchange-free; change detection
    cost stays one comparison per column per matched row."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    upd = base.where(F.col("k") % 89 == 0).select(
        "k", F.lit("U").alias("st"), (F.col("tp") + F.lit(1.0)).alias("tp")
    )
    keep = base.where((F.col("k") % 89 != 0) & (F.col("k") % 91 != 0))
    ins = base.where(F.col("k") % 93 == 0).select(
        (F.col("k") + F.lit(100000000)).alias("k"),
        F.lit("N").alias("st"),
        "tp",
    )
    new = upd.unionByName(keep).unionByName(ins)
    b = base.alias("b")
    n = new.alias("n")
    joined = b.join(n, F.col("b.k") == F.col("n.k"), "full_outer")
    change = (
        F.when(F.col("b.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(
            ~F.col("b.st").eqNullSafe(F.col("n.st"))
            | ~F.col("b.tp").eqNullSafe(F.col("n.tp")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("b.k"), F.col("n.k")).alias("k"),
            change.alias("change_type"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
        .orderBy("change_type")
    )


# --- join cardinality audit (round 7, session 2) -----------------------------


@register(
    "join_cardinality_audit",
    """
WITH l AS (
  SELECT l_orderkey AS k FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <  TIMESTAMP '1996-01-01'
),
o AS (SELECT o_orderkey AS k FROM orders),
lc AS (SELECT k, count(*) AS nl FROM l GROUP BY k),
oc AS (SELECT k, count(*) AS no FROM o GROUP BY k),
t AS (
  SELECT CAST(coalesce(sum(nl * no), 0) AS BIGINT) AS actual_rows
  FROM lc JOIN oc USING (k)
),
s AS (
  SELECT (SELECT count(*) FROM l) AS n_left,
         (SELECT count(*) FROM o) AS n_right,
         (SELECT count(*) FROM lc) AS ndv_left,
         (SELECT count(*) FROM oc) AS ndv_right
)
SELECT CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       CAST(ndv_left AS BIGINT) AS ndv_left,
       CAST(ndv_right AS BIGINT) AS ndv_right,
       CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
         / CAST(greatest(ndv_left, ndv_right) AS DOUBLE) AS est_rows,
       actual_rows,
       CAST(actual_rows AS DOUBLE)
         / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
            / CAST(greatest(ndv_left, ndv_right) AS DOUBLE)) AS err_ratio
FROM s, t
""",
)
def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine auditing its planner's textbook estimate: predicted
    join cardinality under the uniform-independence assumption
    (|L|·|R| / max(ndv_L, ndv_R) — the formula every cost-based
    optimizer starts from) vs the EXACT join size, computed WITHOUT
    executing the join — Σ_k n_L(k)·n_R(k) over the two per-key count
    tables. err_ratio > 1 means the estimator undercounts (key-frequency
    correlation), the miss that turns a planned broadcast into an OOM at
    100 TB.

    Plan: two map-side-combinable per-key counts, one equi-join of the
    count tables (rows = distinct keys, not join output), three scalar
    aggregates broadcast together — the audit's cost is O(distinct keys)
    regardless of how large the actual join output would be. The
    estimate is computed in double precision so the formula never
    overflows at real row counts."""
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-01-01 00:00:00").cast("timestamp")
    l = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate").between(lo, hi) & (F.col("l_shipdate") < hi))
        .select(F.col("l_orderkey").alias("k"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    lc = l.groupBy("k").agg(F.count(F.lit(1)).alias("nl"))
    oc = o.groupBy("k").agg(F.count(F.lit(1)).alias("no"))
    actual = lc.join(oc, "k").agg(
        F.coalesce(F.sum(F.col("nl") * F.col("no")), F.lit(0))
        .cast("long")
        .alias("actual_rows")
    )
    stats = (
        l.agg(F.count(F.lit(1)).alias("n_left"))
        .crossJoin(o.agg(F.count(F.lit(1)).alias("n_right")))
        .crossJoin(lc.agg(F.count(F.lit(1)).alias("ndv_left")))
        .crossJoin(oc.agg(F.count(F.lit(1)).alias("ndv_right")))
    )
    est = (
        F.col("n_left").cast("double")
        * F.col("n_right").cast("double")
        / F.greatest("ndv_left", "ndv_right").cast("double")
    )
    return stats.crossJoin(F.broadcast(actual)).select(
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        F.col("ndv_left").cast("long").alias("ndv_left"),
        F.col("ndv_right").cast("long").alias("ndv_right"),
        est.alias("est_rows"),
        "actual_rows",
        (F.col("actual_rows").cast("double") / est).alias("err_ratio"),
    )


# --- contrastive pair mining (round 7, session 2) ----------------------------


@register(
    "contrastive_pairs",
    """
WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
e AS (
  SELECT a.pk AS a, b.pk AS b, count(*) AS cnt
  FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
),
top AS (SELECT a, b FROM e ORDER BY cnt DESC, a, b LIMIT 50),
np AS (SELECT count(*) AS n FROM part),
cand AS (
  SELECT t.a, t.b, js.j,
         (t.a * 131 + t.b * 137 + js.j * 139) % np.n AS neg
  FROM top t CROSS JOIN np CROSS JOIN (VALUES (0), (1)) AS js(j)
)
SELECT c.a AS anchor, c.b AS pos,
       CAST(c.neg AS BIGINT) AS neg, CAST(c.j AS BIGINT) AS j
FROM cand c
WHERE c.neg <> c.a AND c.neg <> c.b
  AND NOT EXISTS (
    SELECT 1 FROM e
    WHERE e.a = least(c.a, c.neg) AND e.b = greatest(c.a, c.neg)
  )
ORDER BY anchor, pos, j
""",
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining — the (anchor, positive,
    negative) triple builder behind embedding/retrieval training.
    Positives are the top-50 co-purchased part pairs (count desc, fully
    tie-broken); negatives are DETERMINISTIC hash candidates
    ((a·131 + b·137 + j·139) mod |parts| — pure integer arithmetic, so
    both engines draw the same "random" parts with no rand()), kept only
    if they are genuinely non-adjacent to the anchor (anti-join against
    the full co-purchase edge set — the hard-negative hygiene step that
    keeps false negatives out of the loss).

    Plan: the edge set is the same basket self-join as
    basket_part_pairs (distinct-collapsed first, so duplicate line items
    never square); top-k is a TakeOrdered, never a full sort; candidate
    generation is k·50 rows against a broadcast 1-row part count; the
    negative filter is one anti-join of a tiny left against the edge
    set. At 100 TB the edge set is the expensive side and it shuffles
    once, keyed (a, b)."""
    li = load_table(spark, sf_dir, "lineitem")
    bp = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = bp.alias("a")
    b = bp.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("a"), F.col("b.pk").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        edges.orderBy(F.col("cnt").desc(), "a", "b").limit(50).select("a", "b")
    )
    npart = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("n")
    )
    js = spark.range(2).select(F.col("id").alias("j"))
    cand = (
        top.crossJoin(F.broadcast(npart))
        .crossJoin(F.broadcast(js))
        .select(
            "a",
            "b",
            "j",
            (
                (F.col("a") * 131 + F.col("b") * 137 + F.col("j") * 139)
                % F.col("n")
            ).alias("neg"),
        )
        .where((F.col("neg") != F.col("a")) & (F.col("neg") != F.col("b")))
    )
    probe = cand.withColumn(
        "ea", F.least("a", "neg")
    ).withColumn("eb", F.greatest("a", "neg"))
    kept = probe.join(
        edges.select(F.col("a").alias("ea"), F.col("b").alias("eb")),
        ["ea", "eb"],
        "left_anti",
    )
    return kept.select(
        F.col("a").alias("anchor"),
        F.col("b").alias("pos"),
        F.col("neg").cast("long").alias("neg"),
        F.col("j").cast("long").alias("j"),
    ).orderBy("anchor", "pos", "j")


# --- EWMA smoothing (round 7, session 2) -------------------------------------


@register(
    "ewma_candles",
    """
WITH candles AS (
  SELECT event_type AS symbol,
         date_trunc('hour', ts) AS ws,
         CAST(round(max(struct_pack(t := ts, p := value)).p * 100) AS BIGINT)
           AS close_cents
  FROM events GROUP BY 1, 2
),
h AS (
  SELECT symbol, ws, close_cents,
         CAST(epoch(ws) AS BIGINT) // 3600 AS hh
  FROM candles
),
j AS (
  SELECT c.symbol, c.ws, c.close_cents,
         CAST(sum(p.close_cents
                  * CAST(power(2.0, 11 - (c.hh - p.hh)) AS BIGINT))
              AS BIGINT) AS num,
         CAST(sum(CAST(power(2.0, 11 - (c.hh - p.hh)) AS BIGINT))
              AS BIGINT) AS den,
         CAST(count(*) AS BIGINT) AS n_window
  FROM h c JOIN h p
    ON c.symbol = p.symbol AND c.hh - p.hh BETWEEN 0 AND 11
  GROUP BY 1, 2, 3
)
SELECT symbol, ws AS window_start, close_cents / 100.0 AS close,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS ewma,
       n_window
FROM j
""",
)
def q_ewma_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed EWMA over hourly closes (half-life = 1 hour, memory
    = 12 hours): the exponential-smoothing feature every trading /
    forecasting pipeline derives next to the flat moving average
    (candle_bollinger). Decay is by HOUR DISTANCE, not row offset, so
    gaps in the candle grid decay correctly; weights 2^(11-d) and
    integer-cents closes make both window moments EXACT integers — the
    only float ops are the two final divisions, applied identically in
    both engines.

    A recursive EWMA (state folded row-by-row) cannot scale-out; the
    windowed form is the distributed shape. A plain window frame cannot
    express per-partner weights (the weight depends on the CURRENT
    row's hour), so this is a banded self-join: candidate partner
    buckets of width 12h are enumerated per row (exactly 2 — the band
    spans at most 2 buckets), making the join an equi-join on
    (symbol, bucket) with fan-out ≤ 12 partners/row. Linear in rows at
    any scale; no window over an unbounded symbol partition."""
    from ..operators.ohlc import ohlc_candles

    events = load_table(spark, sf_dir, "events")
    candles = ohlc_candles(
        events, ts_col="ts", symbol_col="event_type", price_col="value",
        qty_col=None, window_duration="1 hour",
    ).select(
        "symbol",
        F.col("window_start").alias("ws"),
        F.round(F.col("close") * 100).cast("long").alias("close_cents"),
        F.expr(
            "unix_seconds(cast(window_start as timestamp)) DIV 3600"
        ).alias("hh"),
    )
    left = candles.withColumn(
        "cb",
        F.explode(
            F.array(F.expr("hh DIV 12"), F.expr("hh DIV 12 - 1"))
        ),
    )
    part = candles.select(
        F.col("symbol").alias("symbol_p"),
        F.col("close_cents").alias("cc_p"),
        F.col("hh").alias("hh_p"),
        F.expr("hh DIV 12").alias("cb_p"),
    )
    d = F.col("hh") - F.col("hh_p")
    wgt = F.pow(F.lit(2.0), (F.lit(11) - d).cast("double")).cast("long")
    joined = left.join(
        part,
        (F.col("symbol") == F.col("symbol_p")) & (F.col("cb") == F.col("cb_p")),
    ).where((d >= 0) & (d <= 11))
    agg = joined.groupBy("symbol", "ws", "close_cents").agg(
        F.sum(F.col("cc_p") * wgt).cast("long").alias("num"),
        F.sum(wgt).cast("long").alias("den"),
        F.count(F.lit(1)).cast("long").alias("n_window"),
    )
    return agg.select(
        "symbol",
        F.col("ws").alias("window_start"),
        (F.col("close_cents") / F.lit(100.0)).alias("close"),
        (
            F.col("num").cast("double") / F.col("den").cast("double")
            / F.lit(100.0)
        ).alias("ewma"),
        "n_window",
    )


# --- point-in-time feature join (round 7, session 2) -------------------------


@register(
    "pit_feature_join",
    """
WITH browse AS (
  SELECT user_id, ts,
         max(struct_pack(e := event_id, s := event_type)).s AS state
  FROM events WHERE event_type <> 'purchase'
  GROUP BY user_id, ts
),
ordered AS (
  SELECT user_id, state, ts,
         lag(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev_state
  FROM browse
),
changes AS (
  SELECT user_id, state, ts AS valid_from
  FROM ordered WHERE prev_state IS NULL OR state <> prev_state
),
iv AS (
  SELECT user_id, state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM changes
)
SELECT p.user_id, p.event_id, p.ts, i.state, i.valid_from AS state_since
FROM (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase') p
LEFT JOIN iv i
  ON p.user_id = i.user_id AND p.ts >= i.valid_from
 AND (i.valid_to IS NULL OR p.ts < i.valid_to)
""",
)
def q_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) feature join — the feature-store primitive:
    each purchase event enriched with the user's browsing state AS OF
    the purchase timestamp, against the SCD2 change log built from the
    non-purchase events (per-(user, ts) states collapsed to the last
    event first, so simultaneous events give ONE deterministic state).
    Training-serving skew is exactly what this shape prevents: the
    feature value is the one that was valid when the label happened,
    never a later leak.

    Plan: the PIT join is NOT an interval join here — the SCD2 change
    log is as-of-joinable (backward, inclusive), so operators/joins.py's
    single-exchange union + last-ignorenulls window does it with ONE
    hash exchange on user_id and no range predicate. The oracle replays
    the equivalent [valid_from, valid_to) interval semantics; the hash
    match is the proof the two formulations agree."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    browse = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max(
                F.struct(
                    F.col("event_id").alias("e"),
                    F.col("event_type").alias("s"),
                )
            )["s"].alias("state")
        )
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts")
    changes = (
        browse.withColumn("prev_state", F.lag("state").over(w_ord))
        .where(
            F.col("prev_state").isNull()
            | (F.col("state") != F.col("prev_state"))
        )
        .select("user_id", "state", F.col("ts").alias("valid_from"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    joined = asof_join(
        purchases,
        changes,
        on=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        right_payload=["state"],
        how="left",
        direction="backward",
    )
    return joined.select(
        "user_id",
        "event_id",
        "ts",
        F.col("asof_state").alias("state"),
        F.col("asof_ts").alias("state_since"),
    )


# --- join skew audit (round 7, session 2) ------------------------------------


@register(
    "join_skew_audit",
    """
WITH f AS (
  SELECT l_orderkey AS k, count(*) AS freq FROM lineitem GROUP BY k
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(freq) AS BIGINT) AS n_rows
  FROM f
)
SELECT k, CAST(freq AS BIGINT) AS freq,
       CAST(freq AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
       CAST(freq AS DOUBLE)
         / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew_ratio,
       n_keys, n_rows
FROM f, t
ORDER BY freq DESC, k
LIMIT 10
""",
)
def q_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report you run BEFORE choosing a
    salting factor or trusting AQE's skew-join split: the 10 heaviest
    join keys with their absolute frequency, share of all rows, and
    skew ratio vs the mean key frequency. Together with
    join_cardinality_audit this is the planner's pre-flight: one query
    says how BIG the join is, this one says how UNEVEN it is.

    Plan: one map-side-combinable per-key count, a TakeOrdered top-10
    (local heaps only — the frequency table is never globally sorted),
    and a broadcast 1-row totals join. O(distinct keys) at any scale;
    the hot keys themselves never concentrate on one task."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("freq")
    )
    t = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("freq").cast("long").alias("n_rows"),
    )
    top = f.orderBy(F.col("freq").desc(), "k").limit(10)
    return top.crossJoin(F.broadcast(t)).select(
        "k",
        F.col("freq").cast("long").alias("freq"),
        (F.col("freq").cast("double") / F.col("n_rows").cast("double")).alias(
            "share"
        ),
        (
            F.col("freq").cast("double")
            / (F.col("n_rows").cast("double") / F.col("n_keys").cast("double"))
        ).alias("skew_ratio"),
        "n_keys",
        "n_rows",
    ).orderBy(F.col("freq").desc(), "k")


# --- duplicated-span CUT (round 7, session 3) ---------------------------------


@register(
    "dedup_span_cut",
    f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
wins AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(list_slice(t, u.i, u.i + {_SPAN_K} - 1), ' ') AS win
  FROM toks, unnest(range(1, len(t) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(t) >= {_SPAN_K}
),
dup AS (
  SELECT win FROM (SELECT DISTINCT doc_id, win FROM wins)
  GROUP BY win HAVING count(*) >= 2
),
cov AS (
  SELECT w.doc_id, w.pos AS st, w.pos + {_SPAN_K} - 1 AS en
  FROM wins w JOIN dup USING (win)
),
m AS (
  SELECT doc_id, st, en,
         max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM cov
),
isl AS (
  SELECT doc_id, st, en,
         SUM(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
spans AS (
  SELECT doc_id, min(st) AS st, max(en) AS en
  FROM isl GROUP BY doc_id, island
),
covs AS (
  SELECT doc_id, list(struct_pack(st := st, en := en)) AS spans,
         count(*) AS n_spans
  FROM spans GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id, t.t, coalesce(c.n_spans, 0) AS n_spans,
         CASE WHEN c.spans IS NULL THEN t.t
              ELSE list_transform(
                     list_filter(
                       range(1, len(t.t) + 1),
                       p -> len(list_filter(c.spans,
                                s -> p >= s.st AND p <= s.en)) = 0),
                     p -> t.t[p]) END AS k
  FROM toks t LEFT JOIN covs c USING (doc_id)
)
SELECT doc_id,
       CAST(len(t) AS BIGINT)          AS n_tokens,
       CAST(len(k) AS BIGINT)          AS n_kept,
       CAST(len(t) - len(k) AS BIGINT) AS n_cut,
       CAST(n_spans AS BIGINT)         AS n_spans,
       md5(coalesce(array_to_string(k, ' '), ''))  AS scrub_md5
FROM kept
""",
)
def q_dedup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span CUT — the stage dedup_span_extents exists to
    feed: every token covered by a corpus-duplicated maximal span is
    REMOVED from the document, and the result is proved byte-for-byte
    (md5 of the scrubbed, space-rejoined text — the same
    redaction-proof discipline as pii_redact). Together the trio is the
    full substring-dedup pipeline: span_windows scores, span_extents
    locates, span_cut produces the training-ready text.

    Plan: the extents pipeline unchanged (scan-shaped window explode,
    map-side-combined dup filter, ONE doc-keyed sort exchange for the
    interval-union island merge), then the merged spans fold into an
    O(spans)-sized per-doc array — bounded by document length / K, the
    same boundary as the shingle-set collects — and the cut itself is
    IN-ROW: a higher-order filter over (token, index) probing the span
    array, zero additional shuffles past the doc-keyed join back to the
    text. Docs with nothing to cut pass through the left join
    untouched."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    j = _span_kept(docs)
    return j.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size("kept").cast("long").alias("n_kept"),
        (F.size("t") - F.size("kept")).cast("long").alias("n_cut"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.md5(F.concat_ws(" ", F.col("kept")).cast("binary")).alias(
            "scrub_md5"
        ),
    )


def _span_kept(docs: DataFrame) -> DataFrame:
    """Span-cut core over any (doc_id, text) frame: returns one row per
    document with ``t`` (the token array), ``kept`` (tokens surviving
    the cut of corpus-duplicated maximal spans — duplication measured
    WITHIN the given frame), and ``n_spans``. Shared by dedup_span_cut
    (the per-doc proof query) and corpus_curation_report (which cuts
    the post-dedup survivor corpus)."""
    toks = F.split(F.col("text"), " ")
    spans = _merged_spans(docs)
    covs = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("island_start").alias("st"),
                F.col("island_end").alias("en"),
            )
        ).alias("spans"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    j = docs.select("doc_id", toks.alias("t")).join(covs, "doc_id", "left")

    def _uncovered(tok, i0):
        p = i0 + F.lit(1).cast("long")
        return ~F.exists(
            F.col("spans"), lambda s: (p >= s["st"]) & (p <= s["en"])
        )

    kept = F.when(F.col("spans").isNull(), F.col("t")).otherwise(
        F.filter("t", _uncovered)
    )
    return j.select(
        "doc_id",
        "t",
        kept.alias("kept"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )


# --- corpus curation capstone (round 7, session 3) ----------------------------


def _curation_oracle_sql() -> str:
    """Full curation-funnel replay in production order: exact-dedup
    keeps FIRST, then near-dup clustering (shared minhash CTEs over the
    keeps + recursive transitive closure), struct-max survivor pick,
    span-cut token accounting over the SURVIVOR corpus — folded to one
    row per source."""
    from ._oracles import minhash_bands_sql, minhash_sql_cte

    k = _SPAN_K
    return f"""
WITH RECURSIVE exact AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
), keepdocs AS (
  SELECT d.* FROM documents d JOIN exact USING (doc_id)
), {minhash_sql_cte("keepdocs").lstrip()},
bands AS ({minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list(DISTINCT sh) AS units, count(DISTINCT sh) AS n_units
  FROM shg GROUP BY doc_id
), pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN sets sa ON sa.doc_id = id_a
  JOIN sets sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.units, sb.units))
      / (sa.n_units + sb.n_units - len(list_intersect(sa.units, sb.units)))
        >= 0.7
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM keepdocs
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), clusters AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), surv_pick AS (
  SELECT c.cluster_id,
         -(max(struct_pack(q := d.n_chars, nd := -d.doc_id))).nd AS doc_id
  FROM clusters c JOIN keepdocs d USING (doc_id)
  GROUP BY c.cluster_id
), surv AS (
  SELECT d.doc_id, d.source, string_split(d.text, ' ') AS t
  FROM keepdocs d JOIN surv_pick sp ON d.doc_id = sp.doc_id
), swins AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(list_slice(t, u.i, u.i + {k} - 1), ' ') AS win
  FROM surv, unnest(range(1, len(t) - {k} + 2)) AS u(i)
  WHERE len(t) >= {k}
), sdup AS (
  SELECT win FROM (SELECT DISTINCT doc_id, win FROM swins)
  GROUP BY win HAVING count(*) >= 2
), scov AS (
  SELECT DISTINCT w.doc_id, u.p
  FROM swins w JOIN sdup USING (win),
       unnest(range(w.pos, w.pos + {k})) AS u(p)
), scut AS (
  SELECT doc_id, count(*) AS n_cut FROM scov GROUP BY doc_id
), exact_per_source AS (
  SELECT source, count(*) AS n_docs_exact
  FROM keepdocs GROUP BY source
), raw AS (
  SELECT source, count(*) AS n_docs_raw FROM documents GROUP BY source
), surv_stats AS (
  SELECT s.source,
         count(*) AS n_docs_surviving,
         sum(len(s.t)) AS n_tokens_surviving,
         sum(len(s.t) - coalesce(c.n_cut, 0)) AS n_tokens_final
  FROM surv s LEFT JOIN scut c USING (doc_id)
  GROUP BY s.source
)
SELECT r.source,
       CAST(r.n_docs_raw AS BIGINT)                   AS n_docs_raw,
       CAST(coalesce(e.n_docs_exact, 0) AS BIGINT)    AS n_docs_exact,
       CAST(coalesce(s.n_docs_surviving, 0) AS BIGINT)
                                                      AS n_docs_surviving,
       CAST(coalesce(s.n_tokens_surviving, 0) AS BIGINT)
                                                      AS n_tokens_surviving,
       CAST(coalesce(s.n_tokens_final, 0) AS BIGINT)  AS n_tokens_final
FROM raw r
LEFT JOIN exact_per_source e USING (source)
LEFT JOIN surv_stats s USING (source)
"""


@register("corpus_curation_report", _curation_oracle_sql())
def q_corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation capstone — the per-source funnel a data team
    reads before a training run: raw documents → exact-dedup keeps
    (min-id per distinct text) → near-dup SURVIVORS (MinHash-LSH
    clustering OVER THE KEEPS + the survivorship golden-record pick) →
    tokens remaining after duplicated-span cutting of the survivor
    corpus. The stages run in production order — exact dedup first, so
    byte-identical docs collapse before shingling (this also makes the
    funnel monotone BY CONSTRUCTION: survivors ⊆ exact keeps even for
    sub-shingle-length documents, which cluster as singletons); then
    near-dup; then span-level dedup over what survives (spans shared
    only between a survivor and its discarded duplicates no longer
    count as corpus-duplicated).

    Scale: every stage is the already-audited operator it names —
    clustering on the collapsed rep graph, survivor pick as one
    cluster-keyed struct-max aggregate, span cut scan-shaped over the
    (smaller) survivor corpus; the per-doc token arrays never enter the
    funnel join (sizes are projected first), and the final join is over
    O(#sources) rows. Nothing here adds a shuffle the components didn't
    already pay."""
    from ..operators.dedup import minhash_components, persist_tracked

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_raw")
    )
    exact_ids = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    # the exact-keep corpus feeds four consumers (exact counts, the
    # clustering, the member join, the survivor semi-join) — persist so
    # the text-hash dedup runs once
    keeps = persist_tracked(
        docs.join(exact_ids.select("doc_id"), "doc_id", "left_semi")
    )
    exact = keeps.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_exact")
    )
    clusters = minhash_components(keeps, threshold=0.7)
    members = clusters.join(keeps.select("doc_id", "n_chars"), "doc_id")
    surv_ids = members.groupBy("cluster_id").agg(
        (
            -F.max(
                F.struct(
                    F.col("n_chars").alias("q"),
                    (-F.col("doc_id")).alias("nd"),
                )
            )["nd"]
        ).alias("doc_id")
    )
    survivors = persist_tracked(
        keeps.join(surv_ids.select("doc_id"), "doc_id", "left_semi")
    )
    kept_sizes = _span_kept(survivors.select("doc_id", "text")).select(
        "doc_id",
        F.size("t").cast("long").alias("_n_tok"),
        F.size("kept").cast("long").alias("_n_kept"),
    )
    surv_stats = (
        survivors.select("doc_id", "source")
        .join(kept_sizes, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_surviving"),
            F.sum("_n_tok").cast("long").alias("n_tokens_surviving"),
            F.sum("_n_kept").cast("long").alias("n_tokens_final"),
        )
    )
    return (
        raw.join(exact, "source", "left")
        .join(surv_stats, "source", "left")
        .select(
            "source",
            "n_docs_raw",
            F.coalesce("n_docs_exact", F.lit(0))
            .cast("long")
            .alias("n_docs_exact"),
            F.coalesce("n_docs_surviving", F.lit(0))
            .cast("long")
            .alias("n_docs_surviving"),
            F.coalesce("n_tokens_surviving", F.lit(0))
            .cast("long")
            .alias("n_tokens_surviving"),
            F.coalesce("n_tokens_final", F.lit(0))
            .cast("long")
            .alias("n_tokens_final"),
        )
    )


# --- position-based multi-touch attribution ----------------------------------


@register(
    "attribution_position",
    """
WITH fp AS (
  SELECT user_id, min(ts) AS fp_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), touches AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM events e JOIN fp USING (user_id)
  WHERE e.ts < fp.fp_ts AND e.event_type <> 'purchase'
), ranked AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM touches
), credit AS (
  SELECT event_type,
         CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
              WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
              WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE)
              ELSE CAST(0.2 AS DOUBLE) / CAST(n - 2 AS DOUBLE) END AS c
  FROM ranked
)
SELECT event_type AS channel,
       count(*) AS n_touches,
       CAST(SUM(CAST(floor(c * 1e12 + 0.5) AS BIGINT)) AS BIGINT)
         AS credit_units,
       CAST(SUM(CAST(floor(c * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12
         AS credit
FROM credit GROUP BY 1
""",
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each user's
    touchpoints before their FIRST purchase share the conversion credit —
    40% to the first touch, 40% to the last, 20% split across the middle
    (degenerate journeys: 1 touch → 1.0, 2 touches → 0.5 each) — rolled
    up per channel (event_type).

    Plan: one tiny per-user first-purchase aggregate joined back to the
    scan, then a per-USER window (millions of small partitions — never a
    single-partition window) ranks the journey. Credit fractions like
    0.2/(n-2) are not exactly representable, so per the registry's
    quantized-integer discipline the credit is summed as
    floor(c·1e12 + 0.5) BIGINT units (multiply/add/floor are bit-identical
    IEEE ops in both engines; integer addition is order-independent) and
    divided back to a double once, after the aggregate."""
    e = load_table(spark, sf_dir, "events")
    fp = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp_ts"))
    )
    touches = (
        e.join(fp, "user_id")
        .where((F.col("ts") < F.col("fp_ts")) & (F.col("event_type") != "purchase"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    ranked = touches.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    n, rn = F.col("n"), F.col("rn")
    c = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((rn == 1) | (rn == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2).cast("double"))
    )
    units = F.floor(c * F.lit(1e12) + F.lit(0.5)).cast("long")
    return (
        ranked.select(F.col("event_type").alias("channel"), units.alias("_u"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("_u").cast("long").alias("credit_units"),
            (F.sum("_u").cast("double") / F.lit(1e12)).alias("credit"),
        )
    )


# --- seasonal-baseline anomaly detection -------------------------------------


@register(
    "anomaly_seasonal_baseline",
    """
WITH stats AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hr,
         count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value AS DECIMAL(12,6))
                  * CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS ss
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, hr, n, s / n AS mean,
         sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)) AS sd
  FROM stats
)
SELECT
  e.event_type,
  EXTRACT(hour FROM e.ts)                          AS hr,
  any_value(b.n)                                   AS n_events,
  CAST(SUM(CASE WHEN abs(e.value - b.mean) > 2 * b.sd THEN 1 ELSE 0 END)
       AS BIGINT)                                  AS n_anomalies,
  min(CASE WHEN abs(e.value - b.mean) > 2 * b.sd THEN e.event_id END)
                                                   AS first_anomaly_id
FROM events e
JOIN bounds b ON b.event_type = e.event_type
            AND b.hr = EXTRACT(hour FROM e.ts)
GROUP BY 1, 2
""",
)
def q_anomaly_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: the z-score discipline of
    anomaly_zscore_events, but the baseline is per (event_type,
    hour-of-day) — the classic diurnal-profile monitor (a value normal at
    peak hour is anomalous at 3am). Two-pass: exact decimal-summed
    mean/sd per seasonal cell (bounded: 5 types × 24 hours = 120 rows),
    broadcast back to a shuffle-free flagging scan, tiny final rollup.
    |value − mean| > 2·sd flags the anomaly; the per-cell count,
    anomaly count, and first anomalous event id come back per cell."""
    ev = load_table(spark, sf_dir, "events").withColumn("hr", F.hour("ts"))
    dec = F.col("value").cast("decimal(12,6)")
    stats = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    bounds = stats.select(
        "event_type",
        "hr",
        "n",
        mean.alias("mean"),
        F.sqrt(
            F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))
        ).alias("sd"),
    )
    flagged = F.abs(F.col("value") - F.col("mean")) > 2 * F.col("sd")
    return (
        ev.join(F.broadcast(bounds), ["event_type", "hr"])
        .groupBy("event_type", F.col("hr").cast("long").alias("hr"))
        .agg(
            F.any_value(F.col("n")).alias("n_events"),
            F.sum(F.when(flagged, 1).otherwise(0)).alias("n_anomalies"),
            F.min(F.when(flagged, F.col("event_id"))).alias("first_anomaly_id"),
        )
    )


# --- rolling 7-day distinct actives ------------------------------------------


@register(
    "rolling_active_7d",
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
def q_rolling_active_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per calendar day — the DAU/WAU
    board metric, which naively is a COUNT(DISTINCT) over a sliding
    window per day (a 7× data blowup, then a distinct shuffle, per day).

    Scale plan — the sweep-line identity: a user is 'active on day d'
    iff they have an event in [d−6, d], i.e. each distinct (user,
    active-day a) covers days [a, a+6]. Per-user coverage intervals are
    merged into maximal islands (operators/sessions.py interval_union —
    per-user window partitions, fully parallel), each island [s, e]
    becomes two delta rows (+1 at s, −1 at e+1), and a map-side-combined
    per-day delta sum prefix-scans into the distinct-active count. The
    only ordered structure is the cumulative window over the per-DAY
    delta table — bounded by the calendar, not data volume (same class
    as operators/ranking.py's totals window). No count-distinct, no 7×
    explode, no re-shuffle of the big table beyond the (user, day)
    dedup."""
    from ..operators.sessions import interval_union

    e = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    days = e.select(
        "user_id", F.datediff(F.col("ts").cast("date"), epoch).alias("d")
    ).distinct()
    iv = days.select("user_id", F.col("d").alias("st"), (F.col("d") + 6).alias("en"))
    islands = interval_union(iv, key_col="user_id", start_col="st", end_col="en")
    # Span from the CHEAP days subtree, not the islands: the calendar agg
    # is the plan's second consumer, and re-deriving it from islands would
    # duplicate the windowed interval merge (plan-shape test pins this).
    span = days.agg(F.min("d").alias("d_lo"), F.max("d").alias("d_hi"))
    return rolling_active_finalize(islands, span)


def rolling_active_finalize(islands: DataFrame, span: DataFrame) -> DataFrame:
    """Shared tail of rolling_active_7d and its streaming twin: collapse
    per-user coverage islands (closed epoch-day intervals
    [island_start, island_end]) into the per-day rolling distinct-active
    counts. Each island becomes two delta rows (+1 at start, −1 past
    end); ``span`` is a 1-row (d_lo, d_hi) frame giving the activity-day
    calendar — passed in (rather than derived from the islands) so each
    caller can source it from its CHEAPEST subtree: the batch query from
    the pre-merge distinct days, the streaming twin from its checkpointed
    island state (where re-reading is free). The only ordered structure
    is the cumulative window over the per-DAY delta table — bounded by
    the calendar, not data volume."""
    epoch = F.lit("1970-01-01").cast("date")
    # Both delta rows come out of ONE pass over the islands (explode of a
    # 2-struct array) — a unionAll of two selects would duplicate the
    # whole island subtree in the plan.
    deltas = (
        islands.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("island_start").alias("d"), F.lit(1).alias("delta")
                    ),
                    F.struct(
                        (F.col("island_end") + 1).alias("d"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("x")
        )
        .select("x.d", "x.delta")
        .groupBy("d")
        .agg(F.sum("delta").alias("delta"))
    )
    cal = span.select(
        F.explode(F.sequence(F.col("d_lo"), F.col("d_hi"))).alias("d")
    )
    # Cumulative over the per-day table: bounded by the calendar length.
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        cal.join(deltas, "d", "left")
        .select("d", F.coalesce("delta", F.lit(0)).alias("delta"))
        .withColumn("n_active", F.sum("delta").over(w))
        .select(
            F.date_add(epoch, F.col("d").cast("int")).alias("day"),
            F.col("n_active").cast("long").alias("n_active"),
        )
    )


# --- longest duplicated span at pow2 resolution (round 9) ---------------------

#: Doubling levels for the longest-duplicated-span probe (cap 64 tokens).
_SPAN_LEVELS = (1, 2, 4, 8, 16, 32, 64)


@register(
    "dedup_span_pow2",
    f"""
WITH lv AS (SELECT unnest([{", ".join(map(str, _SPAN_LEVELS))}]) AS k),
g AS (
  SELECT d.doc_id, lv.k,
         unnest(list_transform(
           range(1, len({_TOKENS}) - lv.k + 2),
           i -> md5(array_to_string(
                  list_slice({_TOKENS}, i, i + lv.k - 1), ' ')))) AS gram
  FROM documents d, lv
  WHERE len({_TOKENS}) >= lv.k
),
dup AS (SELECT k, gram FROM g GROUP BY k, gram HAVING count(*) >= 2),
per AS (
  SELECT g.doc_id, g.k, count(*) AS n_dup
  FROM g JOIN dup USING (k, gram) GROUP BY 1, 2
),
best AS (
  SELECT doc_id, max(struct_pack(k := k, n := n_dup)) AS s
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.k, 0) AS BIGINT) AS span_pow2,
       CAST(coalesce(s.n, 0) AS BIGINT) AS n_dup_at_max
FROM documents d LEFT JOIN best USING (doc_id)
""",
)
def q_dedup_span_pow2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest duplicated token-span per document at POWER-OF-TWO
    resolution (cap 64): the largest k ∈ {{1,2,4,…,64}} such that some
    k-token window of the document occurs at ≥2 distinct (doc, pos)
    positions corpus-wide (self-repeats count — longest-REPEATED-
    substring semantics), plus how many of the doc's windows are
    duplicated at that k. The multi-length upgrade of the fixed-8-token
    `dedup_span_windows` family: the doubling ladder is the suffix-array
    prefix-doubling idea restricted to the levels a dedup policy
    actually thresholds on ("drop docs sharing a ≥32-token span").

    Scale (why pow2, not exact-ℓ): gram rows are O(tokens · |levels|) =
    7× the corpus token count — linear, derived IN-ROW (no positional
    get(): one slice per gram, ≤127·len ops/doc) and exploded once;
    duplication is ONE hash aggregation on fixed-width md5 keys with
    map-side combine (boilerplate phrases pre-combine before the
    exchange); the probe join carries only duplicated keys. A true
    suffix-array LCP pass would give exact ℓ but costs O(log n) global
    sort rounds; materializing suffix strings would cost O(tokens ·
    doc_len). No pairwise joins anywhere — identical-copy floods scale
    the gram volume linearly, never quadratically.

    md5 is the gram key on BOTH engines, so a (negligible) collision
    changes both sides identically — the comparison stays exact."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)

    def level(k: int):
        grams = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(F.lit(k).alias("k"), grams.alias("grams"))

    g = (
        docs.select(
            "doc_id",
            F.explode(F.array(*[level(k) for k in _SPAN_LEVELS])).alias("s"),
        )
        .select("doc_id", F.col("s.k").alias("k"), F.explode("s.grams").alias("gram"))
    )
    dup = (
        g.groupBy("k", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("k", "gram")
    )
    per = g.join(dup, ["k", "gram"]).groupBy("doc_id", "k").agg(
        F.count(F.lit(1)).alias("n_dup")
    )
    best = per.groupBy("doc_id").agg(
        F.max(F.struct(F.col("k"), F.col("n_dup"))).alias("s")
    )
    return docs.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("s.k"), F.lit(0)).cast("long").alias("span_pow2"),
        F.coalesce(F.col("s.n_dup"), F.lit(0)).cast("long").alias("n_dup_at_max"),
    )


# --- exact longest duplicated span via suffix array (round 9) -----------------


@register(
    "dedup_span_suffix",
    f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
pos AS (
  SELECT doc_id, t, u.p FROM toks, unnest(range(1, len(t) + 1)) AS u(p)
),
g AS (
  SELECT doc_id, p, v.k,
         md5(array_to_string(list_slice(t, p, p + v.k - 1), ' ')) AS gram
  FROM pos, unnest(range(1, len(t) - p + 2)) AS v(k)
),
dup AS (SELECT k, gram FROM g GROUP BY k, gram HAVING count(*) >= 2),
perpos AS (
  SELECT g.doc_id, g.p,
         max(CASE WHEN d.k IS NOT NULL THEN g.k ELSE 0 END) AS best
  FROM g LEFT JOIN dup d USING (k, gram)
  GROUP BY g.doc_id, g.p
),
perdoc AS (SELECT doc_id, max(best) AS span_exact FROM perpos GROUP BY doc_id),
cnt AS (
  SELECT pp.doc_id, count(*) AS n_at_max
  FROM perpos pp
  JOIN perdoc pd ON pp.doc_id = pd.doc_id AND pp.best = pd.span_exact
  GROUP BY pp.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(pd.span_exact, 0) AS BIGINT) AS span_exact,
       CAST(coalesce(c.n_at_max, 0) AS BIGINT) AS n_at_max
FROM documents d
LEFT JOIN perdoc pd USING (doc_id)
LEFT JOIN cnt c USING (doc_id)
""",
)
def q_dedup_span_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT longest duplicated token-span per document, uncapped — the
    suffix-array completion of the span-dedup family
    (operators/suffix.py): prefix-doubling suffix ranks (Manber–Myers,
    ⌈log₂ max_doc_len⌉ rounds of one equi-join + one global dense rank),
    adjacent-pair LCPs by rank-table descent, per-doc max + achieving-
    position count. Exactness is pinned against a python brute force in
    tests/test_suffix.py; the ORACLE runs the O(Σlen²) gram ladder,
    which is fine at oracle scale and independent of the SA machinery.

    Scale: one row per TOKEN through O(log L) rounds of {{sort, hash
    join}} — at 100 TB with 2k-token docs that is ~11 rounds, vs a
    2000× gram blowup for the brute ladder. The global dense rank is
    size-adaptive (single-partition window below 5M tokens — one task
    beats a range shuffle's scheduling cost 5×; range-partitioned
    rank + broadcast offsets above — no single-partition funnel at
    cluster scale; path equality pinned in tests/test_suffix.py)."""
    from ..operators.suffix import suffix_span_exact

    return suffix_span_exact(
        load_table(spark, sf_dir, "documents", parallelize=True)
    )


# --- exact-threshold span CUT via suffix array (round 10) ---------------------

#: Minimum duplicated-run length (tokens) the suffix-exact cut removes.
#: Deliberately ABOVE the 8-token window resolution: the window ladder
#: would need K=20 grams (2.5x the gram rows) to express this policy;
#: the suffix machinery prices every threshold identically.
_SUFFIX_CUT_MIN = 20


@register(
    "dedup_span_cut_suffix",
    f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
pos AS (
  SELECT doc_id, t, u.p FROM toks, unnest(range(1, len(t) + 1)) AS u(p)
),
g AS (
  SELECT doc_id, p, v.k,
         md5(array_to_string(list_slice(t, p, p + v.k - 1), ' ')) AS gram
  FROM pos, unnest(range(1, len(t) - p + 2)) AS v(k)
),
dup AS (SELECT k, gram FROM g GROUP BY k, gram HAVING count(*) >= 2),
perpos AS (
  SELECT g.doc_id, g.p,
         max(CASE WHEN d.k IS NOT NULL THEN g.k ELSE 0 END) AS best
  FROM g LEFT JOIN dup d USING (k, gram)
  GROUP BY g.doc_id, g.p
),
cov AS (
  SELECT doc_id, p AS st, p + best - 1 AS en
  FROM perpos WHERE best >= {_SUFFIX_CUT_MIN}
),
m AS (
  SELECT doc_id, st, en,
         max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM cov
),
isl AS (
  SELECT doc_id, st, en,
         SUM(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
spans AS (
  SELECT doc_id, min(st) AS st, max(en) AS en
  FROM isl GROUP BY doc_id, island
),
covs AS (
  SELECT doc_id, list(struct_pack(st := st, en := en)) AS spans,
         count(*) AS n_spans
  FROM spans GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id, t.t, coalesce(c.n_spans, 0) AS n_spans,
         CASE WHEN c.spans IS NULL THEN t.t
              ELSE list_transform(
                     list_filter(
                       range(1, len(t.t) + 1),
                       p -> len(list_filter(c.spans,
                                s -> p >= s.st AND p <= s.en)) = 0),
                     p -> t.t[p]) END AS k
  FROM toks t LEFT JOIN covs c USING (doc_id)
)
SELECT doc_id,
       CAST(len(t) AS BIGINT)          AS n_tokens,
       CAST(len(k) AS BIGINT)          AS n_kept,
       CAST(len(t) - len(k) AS BIGINT) AS n_cut,
       CAST(n_spans AS BIGINT)         AS n_spans,
       md5(coalesce(array_to_string(k, ' '), ''))  AS scrub_md5
FROM kept
""",
)
def q_dedup_span_cut_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUFFIX-EXACT duplicated-span cut — the exact-ℓ upgrade of
    dedup_span_cut (VERDICT r9 item 7): remove every token inside a
    corpus-duplicated run of ≥ 20 tokens (_SUFFIX_CUT_MIN), with the same
    md5 scrub proof, but the extents come from the suffix-array
    machinery (operators/suffix.py::suffix_position_best) instead of
    the fixed 8-token window ladder. per-position best is the longest
    duplicated span STARTING at each token, so the union of
    [p, p+best(p)-1] over positions with best ≥ N is EXACTLY the
    token set covered by some duplicated ≥N-run — any threshold at the
    same O(tokens · log L) cost, where the window ladder would pay
    K-gram rows per threshold and caps at its resolution. Self-repeats
    count (longest-REPEATED-substring semantics, matching
    dedup_span_suffix; the window trio requires ≥2 distinct docs).

    Plan: suffix ranks → adjacent-pair LCPs (size-adaptive global rank,
    progressive release above 5M tokens), qualifying positions become
    closed intervals merged by the SAME doc-keyed island sweep as
    dedup_span_extents (operators/sessions.py::interval_union), the cut
    is IN-ROW (higher-order filter probing the O(spans) per-doc array),
    and the oracle replays the brute O(Σlen²) gram ladder — proving the
    SA extents end-to-end byte-for-byte."""
    from ..operators.sessions import interval_union
    from ..operators.suffix import (
        materialize_and_release,
        suffix_position_best,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pb = suffix_position_best(docs)
    cov = pb.df.where(F.col("best") >= _SUFFIX_CUT_MIN).select(
        "doc_id",
        F.col("pos").alias("st"),
        (F.col("pos") + F.col("best") - 1).alias("en"),
    )
    spans = interval_union(cov, key_col="doc_id", start_col="st", end_col="en")
    covs = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("island_start").alias("st"),
                F.col("island_end").alias("en"),
            )
        ).alias("spans"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    toks = F.split(F.col("text"), " ")
    j = docs.select("doc_id", toks.alias("t")).join(covs, "doc_id", "left")

    def _uncovered(tok, i0):
        p = i0 + F.lit(1).cast("long")
        return ~F.exists(
            F.col("spans"), lambda s: (p >= s["st"]) & (p <= s["en"])
        )

    kept = F.when(F.col("spans").isNull(), F.col("t")).otherwise(
        F.filter("t", _uncovered)
    )
    out = j.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("t") - F.size(kept)).cast("long").alias("n_cut"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("scrub_md5"),
    )
    # Same retention contract as suffix_span_exact.
    return materialize_and_release(out, pb)


# --- exact cross-corpus decontamination via suffix array (round 10) -----------

#: The held-out "benchmark" slice of the documents table: one source
#: (5% of docs). The operator takes any boolean doc predicate; the
#: registry exhibit pins one so the oracle can replay it.
_DECON_EVAL_SOURCE = "src0"


@register(
    "decontaminate_span",
    f"""
WITH toks AS (
  SELECT doc_id, source = '{_DECON_EVAL_SOURCE}' AS is_eval,
         {_TOKENS} AS t
  FROM documents
),
pos AS (
  SELECT doc_id, is_eval, t, u.p
  FROM toks, unnest(range(1, len(t) + 1)) AS u(p)
),
g AS (
  SELECT doc_id, is_eval, p, v.k,
         md5(array_to_string(list_slice(t, p, p + v.k - 1), ' ')) AS gram
  FROM pos, unnest(range(1, len(t) - p + 2)) AS v(k)
),
eg AS (SELECT DISTINCT k, gram FROM g WHERE is_eval),
perpos AS (
  SELECT g.doc_id, g.p,
         max(CASE WHEN e.k IS NOT NULL THEN g.k ELSE 0 END) AS best
  FROM g LEFT JOIN eg e USING (k, gram)
  WHERE NOT g.is_eval
  GROUP BY g.doc_id, g.p
),
perdoc AS (SELECT doc_id, max(best) AS contam_span FROM perpos GROUP BY doc_id),
cnt AS (
  SELECT pp.doc_id, count(*) AS n_at_max
  FROM perpos pp
  JOIN perdoc pd ON pp.doc_id = pd.doc_id AND pp.best = pd.contam_span
  GROUP BY pp.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(pd.contam_span, 0) AS BIGINT) AS contam_span,
       CAST(coalesce(c.n_at_max, 0) AS BIGINT) AS n_at_max
FROM documents d
LEFT JOIN perdoc pd USING (doc_id)
LEFT JOIN cnt c USING (doc_id)
WHERE d.source <> '{_DECON_EVAL_SOURCE}'
""",
)
def q_decontaminate_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cross-corpus decontamination score — for every TRAIN
    document (source ≠ '{_DECON_EVAL_SOURCE}'), the longest token span
    that also occurs anywhere in the EVAL slice, plus how many
    positions achieve it. This is what a "cut/drop training docs
    sharing a ≥N-token span with the benchmark" policy thresholds on:
    decontaminate_ngram answers it at one fixed N; this answers every
    N at once, exactly. Suffix array over the UNION corpus
    (operators/suffix.py::cross_contamination_best): a train suffix's
    longest match into the eval set is attained at the NEAREST eval
    suffix in SA order on either side (pair LCP = range-min of
    adjacent LCPs), so after the shared O(tokens · log L) SA build the
    answer is one prefix count + two partitioned window passes — the
    oracle replays the brute O(Σlen²) train-gram ∩ eval-gram ladder.
    Exactness against a python brute force is pinned in
    tests/test_suffix_property.py."""
    from ..operators.suffix import cross_contamination_best

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return cross_contamination_best(
        docs, F.col("source") == _DECON_EVAL_SOURCE
    )


#: Minimum eval-shared run length (tokens) the decontamination cut
#: removes. Chosen above the corpus's p90 contamination span (4 at this
#: generator) so the cut fires on genuinely contaminated docs only.
_DECON_CUT_MIN = 6


@register(
    "decontaminate_cut",
    f"""
WITH toks AS (
  SELECT doc_id, source = '{_DECON_EVAL_SOURCE}' AS is_eval,
         {_TOKENS} AS t
  FROM documents
),
pos AS (
  SELECT doc_id, is_eval, t, u.p
  FROM toks, unnest(range(1, len(t) + 1)) AS u(p)
),
g AS (
  SELECT doc_id, is_eval, p, v.k,
         md5(array_to_string(list_slice(t, p, p + v.k - 1), ' ')) AS gram
  FROM pos, unnest(range(1, len(t) - p + 2)) AS v(k)
),
eg AS (SELECT DISTINCT k, gram FROM g WHERE is_eval),
perpos AS (
  SELECT g.doc_id, g.p,
         max(CASE WHEN e.k IS NOT NULL THEN g.k ELSE 0 END) AS best
  FROM g LEFT JOIN eg e USING (k, gram)
  WHERE NOT g.is_eval
  GROUP BY g.doc_id, g.p
),
cov AS (
  SELECT doc_id, p AS st, p + best - 1 AS en
  FROM perpos WHERE best >= {_DECON_CUT_MIN}
),
m AS (
  SELECT doc_id, st, en,
         max(en) OVER (PARTITION BY doc_id ORDER BY st, en
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM cov
),
isl AS (
  SELECT doc_id, st, en,
         SUM(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY st, en
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
spans AS (
  SELECT doc_id, min(st) AS st, max(en) AS en
  FROM isl GROUP BY doc_id, island
),
covs AS (
  SELECT doc_id, list(struct_pack(st := st, en := en)) AS spans,
         count(*) AS n_spans
  FROM spans GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id, t.t, coalesce(c.n_spans, 0) AS n_spans,
         CASE WHEN c.spans IS NULL THEN t.t
              ELSE list_transform(
                     list_filter(
                       range(1, len(t.t) + 1),
                       p -> len(list_filter(c.spans,
                                s -> p >= s.st AND p <= s.en)) = 0),
                     p -> t.t[p]) END AS k
  FROM toks t LEFT JOIN covs c USING (doc_id)
  WHERE NOT t.is_eval
)
SELECT doc_id,
       CAST(len(t) AS BIGINT)          AS n_tokens,
       CAST(len(k) AS BIGINT)          AS n_kept,
       CAST(len(t) - len(k) AS BIGINT) AS n_cut,
       CAST(n_spans AS BIGINT)         AS n_spans,
       md5(coalesce(array_to_string(k, ' '), ''))  AS scrub_md5
FROM kept
""",
)
def q_decontaminate_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination CUT — the action decontaminate_span
    scores: remove from every TRAIN document each token inside an
    eval-shared run of ≥ {_DECON_CUT_MIN} tokens, with the md5 scrub
    proof of dedup_span_cut_suffix. Exactness of the extents: per-train-
    position best (cross_contamination_position_best) is the longest
    eval-shared span STARTING there, and any token inside some
    eval-shared ≥N-run is covered by the interval of that run's own
    start (whose best is ≥ the full run length) — so the interval union
    over qualifying positions is EXACTLY the contaminated token set.
    Same island merge (interval_union), in-row higher-order-filter cut,
    and brute gram-ladder oracle as the within-corpus cut; eval docs
    pass through neither side."""
    from ..operators.sessions import interval_union
    from ..operators.suffix import (
        cross_contamination_position_best,
        materialize_and_release,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pb = cross_contamination_position_best(
        docs, F.col("source") == _DECON_EVAL_SOURCE
    )
    cov = pb.df.where(F.col("best") >= _DECON_CUT_MIN).select(
        "doc_id",
        F.col("pos").alias("st"),
        (F.col("pos") + F.col("best") - 1).alias("en"),
    )
    spans = interval_union(cov, key_col="doc_id", start_col="st", end_col="en")
    covs = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("island_start").alias("st"),
                F.col("island_end").alias("en"),
            )
        ).alias("spans"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    toks = F.split(F.col("text"), " ")
    j = (
        docs.where(F.col("source") != _DECON_EVAL_SOURCE)
        .select("doc_id", toks.alias("t"))
        .join(covs, "doc_id", "left")
    )

    def _uncovered(tok, i0):
        p = i0 + F.lit(1).cast("long")
        return ~F.exists(
            F.col("spans"), lambda s: (p >= s["st"]) & (p <= s["en"])
        )

    kept = F.when(F.col("spans").isNull(), F.col("t")).otherwise(
        F.filter("t", _uncovered)
    )
    out = j.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("t") - F.size(kept)).cast("long").alias("n_cut"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("scrub_md5"),
    )
    return materialize_and_release(out, pb)


# --- corpus boilerplate catalog (round 10) ------------------------------------

#: Phrase length (tokens) and catalog size for the boilerplate report.
_BOILER_K = 12
_BOILER_TOPK = 20


@register(
    "boilerplate_span_catalog",
    f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(t, u.i, u.i + {_BOILER_K} - 1), ' ')
           AS gram
  FROM toks, unnest(range(1, len(t) - {_BOILER_K} + 2)) AS u(i)
  WHERE len(t) >= {_BOILER_K}
),
total AS (SELECT count(*) AS n_total FROM documents),
agg AS (
  SELECT gram,
         count(*) AS n_occ,
         count(DISTINCT doc_id) AS n_docs
  FROM g GROUP BY gram HAVING count(*) >= 2
)
SELECT gram,
       CAST(n_occ AS BIGINT)  AS n_occ,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_occ * {_BOILER_K} AS BIGINT) AS covered_tokens,
       CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS doc_share
FROM agg, total
ORDER BY n_occ DESC, gram ASC
LIMIT {_BOILER_TOPK}
""",
)
def q_boilerplate_span_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BOILERPLATE CATALOG — the audit report the span-dedup
    family feeds on: the top-20 (_BOILER_TOPK) most-repeated
    12-token (_BOILER_K) phrases corpus-wide, with occurrence count,
    distinct-document reach, covered-token volume, and document share.
    The per-document queries answer "how duplicated is THIS doc"
    (span_windows/pow2/suffix) and "what do I remove" (the cut pair);
    this answers the curator's corpus-level question — WHICH phrases
    are the boilerplate worth a template rule — with a fully tie-broken
    (count desc, phrase asc) deterministic top-k.

    Plan: grams derive IN-ROW (one slice + concat per position — the
    zip-free linear form, no positional get()), explode once, ONE
    hash aggregation with map-side combine (boilerplate phrases
    pre-combine before the exchange — the skew is the signal here and
    partial aggregation absorbs it), HAVING ≥2 prunes the long tail
    before the heap, and the top-k is TakeOrderedAndProject (O(k) per
    partition, no global sort). The 1-row corpus count attaches by
    broadcast. Scan-shaped at any corpus size: no joins, no windows,
    no pairwise anything."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    grams = F.when(
        n >= _BOILER_K,
        F.transform(
            F.sequence(F.lit(1), n - _BOILER_K + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _BOILER_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.explode(grams).alias("gram"))
    agg = (
        g.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_occ") >= 2)
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "gram",
            F.col("n_occ").cast("long").alias("n_occ"),
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("n_occ") * _BOILER_K).cast("long").alias("covered_tokens"),
            (
                F.col("n_docs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("doc_share"),
        )
        .orderBy(F.col("n_occ").desc(), F.col("gram").asc())
        .limit(_BOILER_TOPK)
    )


# --- corpus-wide boilerplate removal (round 11) -------------------------------


@register(
    "boilerplate_cut",
    f"""
WITH toks AS (SELECT doc_id, source, {_TOKENS} AS t FROM documents),
g AS (
  SELECT doc_id, u.i AS i,
         array_to_string(list_slice(t, u.i, u.i + {_BOILER_K} - 1), ' ')
           AS gram
  FROM toks, unnest(range(1, len(t) - {_BOILER_K} + 2)) AS u(i)
  WHERE len(t) >= {_BOILER_K}
),
cat AS (
  SELECT gram FROM (
    SELECT gram, count(*) AS n_occ
    FROM g GROUP BY gram HAVING count(*) >= 2
    ORDER BY n_occ DESC, gram ASC LIMIT {_BOILER_TOPK}
  )
),
cov AS (
  SELECT g.doc_id, g.i AS st, g.i + {_BOILER_K} - 1 AS en
  FROM g JOIN cat USING (gram)
),
covs AS (
  SELECT doc_id, list(struct_pack(st := st, en := en)) AS spans
  FROM cov GROUP BY doc_id
),
kept AS (
  SELECT t.doc_id, t.source,
         c.spans IS NOT NULL AS touched,
         t.t,
         CASE WHEN c.spans IS NULL THEN t.t
              ELSE list_transform(
                     list_filter(
                       range(1, len(t.t) + 1),
                       p -> len(list_filter(c.spans,
                                s -> p >= s.st AND p <= s.en)) = 0),
                     p -> t.t[p]) END AS k
  FROM toks t LEFT JOIN covs c USING (doc_id)
),
per AS (
  SELECT doc_id, source, touched, len(t) AS nt, len(k) AS nk,
         {hashing.rolling_hash_sql(
             "doc_id || ':' || coalesce(array_to_string(k, ' '), '')"
         )} AS h
  FROM kept
)
SELECT source,
       CAST(count(*) AS BIGINT)                                 AS n_docs,
       CAST(SUM(CASE WHEN touched THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
       CAST(SUM(nt) AS BIGINT)                                  AS tokens_before,
       CAST(SUM(nk) AS BIGINT)                                  AS tokens_after,
       CAST(SUM(nt) - SUM(nk) AS BIGINT)                        AS tokens_cut,
       CAST(SUM(h) AS BIGINT)                                   AS scrub_sum,
       CAST(bit_xor(h) AS BIGINT)                               AS scrub_xor
FROM per GROUP BY source
""",
)
def q_boilerplate_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BOILERPLATE REMOVAL (VERDICT r10 item 7) — the
    curator action q_boilerplate_span_catalog's report implies: every
    occurrence of the catalog's top-{_BOILER_TOPK} repeated
    {_BOILER_K}-token phrases is cut from every document, with a
    per-source before/after ledger and an order-independent scrub
    checksum proving byte-for-byte what survived.

    Composition: the catalog is the SAME fully tie-broken top-k CTE
    (count desc, phrase asc — determinism is what lets the oracle agree
    on which phrase holds seat 20); its 20 phrases broadcast against
    the positional gram stream to become closed spans [i, i+{_BOILER_K}-1];
    the cut is the dedup_span_cut_suffix in-row higher-order filter (a
    position survives iff no covering span — overlapping occurrences
    union naturally). The proof is the shard_checksum_manifest
    discipline, not a collect_list: per doc one cross-engine rolling
    hash of ``doc_id:kept_text``, then commutative sum + xor per source
    — order/partition-independent by algebra, O(1) aggregate state, so
    the witness survives any executor layout at 100 TB (a sorted-list
    md5 would buffer every doc id per source). The planted-phrase test
    (tests/test_corpus_hygiene.py) recomputes the checksums from expected
    kept text byte-for-byte.

    Scale: grams derive in-row, ONE map-side-combined catalog
    aggregate + TakeOrdered(20), one broadcast semi-shaped join to find
    occurrences, one per-doc span list (bounded by per-doc occurrence
    count), one final per-source aggregate. No pairwise anything; the
    only wide exchanges are the catalog agg and the tiny span groupBy."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    gpos = F.when(
        n >= _BOILER_K,
        F.transform(
            F.sequence(F.lit(1), n - _BOILER_K + 1),
            lambda i: F.struct(
                i.cast("long").alias("i"),
                F.concat_ws(" ", F.slice(toks, i, _BOILER_K)).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:long,gram:string>>"))
    g = docs.select("doc_id", F.explode(gpos).alias("_g")).select(
        "doc_id", F.col("_g.i").alias("i"), F.col("_g.gram").alias("gram")
    )
    cat = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .orderBy(F.col("n_occ").desc(), F.col("gram").asc())
        .limit(_BOILER_TOPK)
        .select("gram")
    )
    cov = g.join(F.broadcast(cat), "gram").select(
        "doc_id",
        F.col("i").alias("st"),
        (F.col("i") + _BOILER_K - 1).alias("en"),
    )
    covs = cov.groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("st"), F.col("en"))).alias("spans")
    )
    j = docs.select("doc_id", "source", toks.alias("t")).join(
        covs, "doc_id", "left"
    )

    def _uncovered(tok, i0):
        p = i0 + F.lit(1).cast("long")
        return ~F.exists(
            F.col("spans"), lambda s: (p >= s["st"]) & (p <= s["en"])
        )

    kept = F.when(F.col("spans").isNull(), F.col("t")).otherwise(
        F.filter("t", _uncovered)
    )
    per = j.select(
        "source",
        F.col("spans").isNotNull().alias("touched"),
        F.size("t").cast("long").alias("nt"),
        F.size(kept).cast("long").alias("nk"),
        hashing.rolling_hash(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.concat_ws(" ", kept),
            )
        ).alias("h"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("touched"), 1).otherwise(0))
        .cast("long")
        .alias("docs_touched"),
        F.sum("nt").cast("long").alias("tokens_before"),
        F.sum("nk").cast("long").alias("tokens_after"),
        (F.sum("nt") - F.sum("nk")).cast("long").alias("tokens_cut"),
        F.sum("h").cast("long").alias("scrub_sum"),
        F.bit_xor("h").cast("long").alias("scrub_xor"),
    )
