"""Plan linter: detects scale hazards. The registry's own queries are
linted in their per-query cases (tests/test_registry_oracle.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.plans.linter import lint_hints, lint_plan
from ohlc_spark_streaming_spark.registry import QUERIES
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def test_linter_flags_cartesian(spark):
    a = load_table(spark, SF_SMOKE, "region")
    b = load_table(spark, SF_SMOKE, "nation")
    codes = {c for _, c, _ in lint_plan(a.crossJoin(b))}
    assert "CARTESIAN" in codes or "NL_BROADCAST" in codes


def test_linter_flags_collect_list(spark):
    df = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.collect_list("value").alias("vals"))
    )
    codes = {c for _, c, _ in lint_plan(df)}
    assert "COLLECT_LIST" in codes


def test_linter_flags_faithful_ohlc(spark):
    """The reference's own collect_list formulation is exactly what the
    linter exists to catch (main.py:153-158)."""
    codes = {
        c for _, c, _ in lint_plan(QUERIES["ohlc_candles_faithful"](spark, SF_SMOKE))
    }
    assert "COLLECT_LIST" in codes


def test_linter_flags_row_python(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda s: (s or "").upper())
    df = load_table(spark, SF_SMOKE, "documents").select(slow(F.col("lang")))
    codes = {c for _, c, _ in lint_plan(df)}
    assert "ROW_PYTHON" in codes


# --- hard-broadcast-hint lint (VERDICT r5 item 3) ---------------------------


def test_hint_lint_flags_unfiltered_base_table(spark):
    """q18's old shape: F.broadcast(full customer) is SF-proportional."""
    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders")
    df = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    codes = {code for sev, code, _ in lint_hints(df) if sev == "error"}
    assert "BROADCAST_UNFILTERED" in codes


def test_hint_lint_flags_per_entity_aggregate(spark):
    """funnel_timed's old shape: broadcasting a per-user aggregate is
    user-count-proportional."""
    ev = load_table(spark, SF_SMOKE, "events")
    v = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    df = ev.join(F.broadcast(v), "user_id")
    codes = {code for sev, code, _ in lint_hints(df) if sev == "error"}
    assert "BROADCAST_ENTITY_AGG" in codes


def test_hint_lint_accepts_bounded_builds(spark):
    """nation (bounded dim), a keyless 1-row aggregate, and a bounded-enum
    per-symbol aggregate are the legitimate hint targets."""
    n = load_table(spark, SF_SMOKE, "nation")
    c = load_table(spark, SF_SMOKE, "customer")
    ok1 = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))

    o = load_table(spark, SF_SMOKE, "orders")
    avg1 = o.agg(F.avg("o_totalprice").alias("_avg"))
    ok2 = o.join(F.broadcast(avg1), F.col("o_totalprice") > F.col("_avg"))

    ev = load_table(spark, SF_SMOKE, "events")
    per_type = ev.groupBy("event_type").agg(F.avg("value").alias("m"))
    ok3 = ev.join(F.broadcast(per_type), "event_type")

    for df in (ok1, ok2, ok3):
        errors = [f for f in lint_hints(df) if f[0] == "error"]
        assert not errors, errors


def test_hint_lint_vocab_distinct_passes_entity_distinct_fails(spark):
    """A distinct over a token/vocab column is the documented sub-linear
    dictionary pattern (no flag); a distinct over an entity id (doc_id)
    is corpus-proportional and must flag."""
    docs = load_table(spark, SF_SMOKE, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word")).distinct()
    )
    ok = docs.join(
        F.broadcast(vocab), F.col("text").contains(F.col("word")), "left_semi"
    )
    assert not [f for f in lint_hints(ok) if f[0] == "error"]

    ids = docs.select("doc_id").distinct()
    bad = docs.join(F.broadcast(ids), "doc_id")
    codes = {code for sev, code, _ in lint_hints(bad) if sev == "error"}
    assert "BROADCAST_ENTITY_AGG" in codes


def test_hint_lint_limit_bounds_anything_below_it(spark):
    """A LIMIT above an unfiltered SF-proportional table bounds the build
    side — no flag."""
    c = load_table(spark, SF_SMOKE, "customer").limit(100)
    o = load_table(spark, SF_SMOKE, "orders")
    df = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    assert not [f for f in lint_hints(df) if f[0] == "error"]


def test_hint_lint_filtered_relation_is_info_not_error(spark):
    """A filtered SF-proportional relation under a hint is a review item
    (info), not an automatic failure — eval sets and single-brand slices
    are legitimately tiny."""
    p = load_table(spark, SF_SMOKE, "part").where(F.col("p_brand") == "Brand#3")
    l = load_table(spark, SF_SMOKE, "lineitem")
    findings = lint_hints(l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")))
    assert [f[1] for f in findings] == ["BROADCAST_FILTERED"]
    assert findings[0][0] == "info"


def test_output_schema_lint_flags_nested_columns(spark):
    """Regression for the r8 token_id_encode driver red: a raw
    array/map/struct column in an oracle-backed final schema aborts the
    driver canonicalizer (numpy arrays are unhashable in a pandas sort).
    The lint must flag every nested top-level column and pass flat ones."""
    from ohlc_spark_streaming_spark.plans.linter import lint_output_schema

    docs = load_table(spark, SF_SMOKE, "documents")
    nested = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.struct(F.lit(1).alias("a")).alias("s"),
    )
    codes = [f[1] for f in lint_output_schema(nested)]
    assert codes == ["NESTED_OUTPUT"] * 3
    flat = nested.select(
        "doc_id", F.array_join("toks", " ").alias("toks_str")
    )
    assert lint_output_schema(flat) == []

