"""Physical-plan regression guards: the properties that matter at 100 TB
must be visible in the executed plan (SURVEY §4.2) — filters reaching the
parquet scan, column pruning, broadcast choices, whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.registry import QUERIES
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = load_table(spark, SF_SMOKE, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # Unrequested wide columns must not be read.
    assert "l_returnflag" not in read_schema and "l_extendedprice" not in read_schema


def test_small_dims_broadcast_in_q5(spark):
    plan = _plan(QUERIES["q5_region_revenue"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_covers_pipeline(spark):
    df = QUERIES["ohlc_candles"](spark, SF_SMOKE)
    df.collect()  # AQE: the final plan (with codegen markers) exists post-run
    plan = _plan(df)
    # Codegen'd stages print as `*(n)` in the executed plan. The scan →
    # project → partial-agg pipeline must be inside codegen; the OHLC
    # aggregate itself is a SortAggregate by necessity (struct ordering
    # keys are not hash-aggregable) and the partial+final split around the
    # exchange is the part that matters at scale.
    assert "*(1)" in plan
    assert "partial_min_by" in plan and "partial_max_by" in plan


def test_asof_join_is_single_shuffle(spark):
    """The union+window as-of formulation must not contain a join at all —
    one exchange for the window sort is the entire shuffle cost."""
    plan = _plan(QUERIES["join_asof_purchase_view"](spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_nearest_still_single_shuffle(spark):
    """direction='nearest' runs BOTH directional window passes but must
    still cost exactly one hash exchange — the second WindowExec only
    re-sorts within the same partitioning."""
    plan = _plan(QUERIES["join_asof_nearest"](spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") >= 2  # two directional passes present


def test_q6_filters_reach_the_scan(spark):
    """TPC-H Q6 is a pure filter+agg — every predicate must be pushed to
    the parquet scan (PushedFilters), and the scan must prune to the four
    referenced columns."""
    from ohlc_spark_streaming_spark.registry import QUERIES

    plan = (
        QUERIES["q6_forecast_revenue"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert any(
            f"{kind}({col}" in plan
            for kind in ("GreaterThan", "LessThan", "GreaterThanOrEqual", "IsNotNull")
        ), (col, plan)
    # Column pruning: l_tax is not referenced and must not be read.
    assert "l_tax" not in plan


def test_q21_single_lineitem_shuffle_rest_broadcast(spark):
    """q21's decorrelation promises: the per-order stats aggregate is the
    only lineitem shuffle, and orders/supplier/stats all arrive broadcast
    — no sort-merge join anywhere in the plan."""
    from ohlc_spark_streaming_spark.registry import QUERIES

    plan = (
        QUERIES["q21_waiting_suppliers"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_equidepth_histogram_has_no_global_ntile(spark):
    """Round-2 scale path: the equi-depth histogram must rank via the
    distributed range-partitioned row_number (operators.ranking), never a
    corpus-wide ntile window. The only single-partition window allowed is
    the O(#partitions) offsets prefix-sum."""
    plan = _plan(QUERIES["price_histogram_equidepth"](spark, SF_SMOKE))
    assert "ntile" not in plan
    assert "rangepartitioning" in plan
    # The corpus-sized window is partitioned by _pid (parallel); assert the
    # ranking window spec carries a partition expression.
    assert "windowspecdefinition(_pid" in plan


def test_vocab_top_tokens_is_take_ordered(spark):
    """The vocabulary top-k must plan as TakeOrderedAndProject (per-task
    100-row heaps) — not a global sort or a full-vocab window."""
    plan = _plan(QUERIES["vocab_top_tokens"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_centroid_assignment_broadcasts_centroids(spark):
    """embedding_centroid_assign: the per-label centroid table must hit
    the vectors as a broadcast (no shuffle of the vector side for the
    assignment), and the confusion rollup stays a hash aggregate."""
    plan = _plan(QUERIES["embedding_centroid_assign"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_doc_length_histogram_single_agg_exchange(spark):
    """doc_length_histogram: one partial+final hash aggregate on the
    bucket key; the cumulative window must run AFTER aggregation (over
    bucket rows), never over the raw corpus."""
    plan = _plan(QUERIES["doc_length_histogram"](spark, SF_SMOKE))
    assert plan.count("Exchange") <= 3  # agg + single-partition window
    # Window input is the aggregated bucket table, not the scan: the
    # aggregate appears below the window in the tree.
    assert "HashAggregate" in plan


def test_quantize_broadcasts_dim_ranges(spark):
    """embedding_quantize_int8: the per-dim [min, max] table collapses to
    ONE broadcast row — the quantize pass is scan-shaped (broadcast
    nested-loop against a single row, no shuffle of the vector side,
    no sort-merge join anywhere)."""
    plan = _plan(QUERIES["embedding_quantize_int8"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cooc_lift_is_take_ordered_with_broadcast_counts(spark):
    """cooc_lift_topk: the top-50 must plan as TakeOrderedAndProject
    (per-task heaps, no global sort) and the two token-count joins must
    broadcast the tiny count tables against the pair table."""
    plan = _plan(QUERIES["cooc_lift_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hierarchy_rollup_is_single_join_plus_agg(spark):
    """part_hierarchy_rollup: after the (eagerly materialized) closure,
    the rollup itself is ONE equi-join of members onto measures plus one
    hash aggregate — nothing pairwise, no sort-merge join (the measure
    side broadcasts at this scale; at 100 TB it becomes one hash
    shuffle on node id)."""
    plan = _plan(QUERIES["part_hierarchy_rollup"](spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_inverted_index_partial_group_limit(spark):
    """inverted_index_champions: the top-k window must plan with a
    PARTIAL WindowGroupLimit below the exchange (map-side top-k per
    term — a hot term ships k rows per task, never its full posting
    list) and a broadcast df join — no sort-merge join."""
    plan = _plan(QUERIES["inverted_index_champions"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_conjunctive_search_is_scan_shaped(spark):
    """conjunctive_search: in-row token filters only — the plan must
    contain NO exchange at all (pure scan → project → filter)."""
    plan = _plan(QUERIES["conjunctive_search"](spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_pit_feature_join_is_windowed_not_joined(spark):
    """The PIT enrichment must plan as union + window (the as-of
    formulation), never as a range/interval join — no join operator of
    any kind, and the only hash exchanges are the user_id layouts the
    change-log build and the as-of window share."""
    plan = _plan(QUERIES["pit_feature_join"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_length_bucket_batches_no_per_bucket_window(spark):
    """The within-bucket rank must come from the two-phase layout: range
    partition + per-_pid windows + broadcast min table. A window
    PARTITIONED BY bucket (the 100 TB hot-task shape) must not appear;
    bucket may only occur as an ORDER column."""
    plan = _plan(QUERIES["length_bucket_batches"](spark, SF_SMOKE))
    assert "rangepartitioning(bucket" in plan
    assert "windowspecdefinition(bucket" not in plan
    assert "BroadcastHashJoin" in plan  # O(#buckets) min-rank table
    assert "SortMergeJoin" not in plan


def test_source_interleave_no_per_source_window(spark):
    """Both ranks must be two-phase: no window partitioned by source and
    no window partitioned by vt — only _pid-partitioned local ranks and
    the O(#partitions) totals windows."""
    plan = _plan(QUERIES["source_interleave_order"](spark, SF_SMOKE))
    assert "windowspecdefinition(source" not in plan
    assert "windowspecdefinition(vt" not in plan
    assert "rangepartitioning(source" in plan
    assert "rangepartitioning(vt" in plan
    assert "SortMergeJoin" not in plan


def test_token_id_encode_vocab_is_broadcast(spark):
    """The vocabulary is k-bounded (top-1000) so the encode join must be
    a BroadcastHashJoin — a shuffle join on token would re-shuffle the
    whole exploded corpus at 100 TB."""
    plan = _plan(QUERIES["token_id_encode"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_skew_audit_is_take_ordered(spark):
    """Top-10 hot keys must come from TakeOrdered local heaps, never a
    global sort of the frequency table."""
    plan = _plan(QUERIES["join_skew_audit"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_equidepth_apply_is_scan_shaped(spark):
    """The apply side must see ONE broadcast 1-row array (a
    BroadcastNestedLoopJoin against the boundary aggregate) and no other
    join — binning must never shuffle or hash-join the lineitem scan
    before the tiny per-bin rollup."""
    plan = _plan(QUERIES["equidepth_bin_apply"](spark, SF_SMOKE))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    # the fit side uses the two-phase rank, not a global window
    assert "rangepartitioning(o_totalprice" in plan


def test_shard_manifest_is_one_aggregate_exchange(spark):
    """The manifest is scan → partial agg → ONE hash exchange on shard →
    final agg: no joins, no windows, nothing else wide."""
    plan = _plan(QUERIES["shard_checksum_manifest"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    for op in ("Join", "Window"):
        assert op not in plan, op


def test_seasonal_anomaly_bounds_are_broadcast(spark):
    """The 120-cell bounds table must come back as a BroadcastHashJoin —
    a shuffle join on (event_type, hr) would re-shuffle the whole events
    scan for a bounded dimension."""
    plan = _plan(QUERIES["anomaly_seasonal_baseline"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_active_window_is_day_level_only(spark):
    """The only single-partition structure may be the calendar-bounded
    day-level cumulative window; the per-user interval merge must keep
    its keyed window partitions (interval_union's _k), and the island
    subtree must appear ONCE (the +1/-1 deltas come from one explode,
    not a unionAll that duplicates the merge)."""
    plan = _plan(QUERIES["rolling_active_7d"](spark, SF_SMOKE))
    assert "windowspecdefinition(_k#" in plan  # parallel island merge
    assert plan.count("Exchange SinglePartition") == 1  # the day sweep only
    # one island merge, not two: the user-keyed sort exchange is unique
    assert plan.count("windowspecdefinition(_k#") == 2  # max-prev + run-sum
    assert "SortMergeJoin" not in plan


def test_attribution_windows_are_per_user(spark):
    """Journey ranking must stay partitioned by user_id — no global
    window — and the first-purchase build is an aggregate, not a sort."""
    plan = _plan(QUERIES["attribution_position"](spark, SF_SMOKE))
    assert "windowspecdefinition(user_id" in plan
    assert "GlobalLimit" not in plan
