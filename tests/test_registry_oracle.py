"""Every registered query must match its oracle exactly at sf0.001, and its
frame must pass the plan lints.

This mirrors the driver's t2 correctness gate (which runs at sf0.01); running
the full registry at the smallest scale keeps the suite fast while still
exercising identical semantics. Each query is built once, in its own case,
and every per-query check runs on that one frame.
"""

from __future__ import annotations

import pytest

from ohlc_spark_streaming_spark.plans.linter import lint_hints, lint_plan
from ohlc_spark_streaming_spark.registry import ORACLES, QUERIES
from tools_lint import EXPECTED

from .conftest import SF_SMOKE
from .oracle_utils import compare_query_to_oracle

#: Streaming twins execute real micro-batches on call and carry no join
#: hints; their state discipline is checked by their own tests.
STREAMING_PREFIXES = ("streaming_", "pyds_stream")

# Batch headline queries expected hazard-free under lint_plan (the faithful
# OHLC mode is the deliberate COLLECT_LIST witness,
# tests/test_plan_linter.py).
CLEAN = {
    "ohlc_candles",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_asof_purchase_view",
    "dedup_exact",
    "text_tfidf",
    "window_rank_battery",
    "join_interval_overlap",
    "candle_trend_slope",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_customers",
    # dedup_jaccard_ppjoin is NOT here: its verification collects per-doc
    # shingle SETS (bounded by document length, not group cardinality) —
    # same deliberate pattern as dedup_minhash_lsh, which the linter
    # rightly flags as a collect and we rightly accept.
    "pack_sequences",
    "vwap_candles",
    "twap_candles",
    "ohlc_rollup_candles",
    "cms_token_counts",
    # round 3 corpus hygiene (domain_mixture's only finding is the
    # 1-row-total NL_BROADCAST info, which is the intended scalar attach)
    "quality_repetition",
    "decontaminate_ngram",
    "domain_mixture",
    "text_lm_coverage",
    # round 5 additions (hierarchy rollup executes its closure eagerly,
    # so only the final rollup plan is lintable — included anyway).
    # embedding_quantize_int8 is NOT here: its collect_list builds the
    # per-dim [min,max] arrays from the DIMS table — bounded by the
    # embedding dimensionality, not by corpus size — the same
    # deliberate bounded-collect pattern as dedup_jaccard_ppjoin.
    "part_hierarchy_rollup",
    "cooc_lift_topk",
    "inverted_index_champions",
    "conjunctive_search",
    "approx_percentile_audit",
}


def test_every_query_has_an_oracle():
    """Every registered query runs to ``collect()`` in its oracle case."""
    assert set(QUERIES) == set(ORACLES)
    assert CLEAN <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    """One frame per query: no batch query may hard-broadcast an
    SF-proportional build side (deliberate, documented findings share
    tools_lint.py's EXPECTED set), a CLEAN query's executed plan has no
    error finding, and the frame equals its oracle with a flat,
    driver-hashable schema."""
    df = QUERIES[name](spark, SF_SMOKE)
    if not name.startswith(STREAMING_PREFIXES):
        hint_errors = [
            f
            for f in lint_hints(df)
            if f[0] == "error" and (name, f[1]) not in EXPECTED
        ]
        assert not hint_errors, hint_errors
    if name in CLEAN:
        plan_errors = [f for f in lint_plan(df) if f[0] == "error"]
        assert not plan_errors, plan_errors
    compare_query_to_oracle(spark, lambda s, d: df, ORACLES[name], SF_SMOKE)
