"""Benchmark harness: runs the engine's headline queries and prints ONE JSON
line ``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); parallelism
from $SPARK_GRAFT_CPUS (default all cores). Each query is executed to
completion (count of a noop-projection) so the measured time includes the
full plan, not just planning.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ohlc_spark_streaming_spark import build_session  # noqa: E402
from ohlc_spark_streaming_spark.registry import QUERIES  # noqa: E402

# Headline queries: the flagship plus one representative per operator family.
# Extended as families land; keep this list in sync with SURVEY.md §2.
HEADLINE = [
    "ohlc_candles",
    "trade_pipeline",
    "streaming_ohlc_candles",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_asof_purchase_view",
    "window_running_total",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk",
    "similarity_lsh_topk",
    "text_quality",
    "text_fingerprint",
    "ohlc_sliding_candles",
    "session_windows_user",
    "streaming_interval_join",
    "multimodal_features",
    "similarity_ivf_topk",
    "text_tfidf",
    "candle_gap_fill",
    "candle_trend_slope",
    "error_streaks",
    "streaming_stateful_error_counts",
    "text_chunks",
    "q18_large_volume_customers",
    "dedup_jaccard_ppjoin",
    "pack_sequences",
    "vwap_candles",
    "ohlc_rollup_candles",
    "cms_token_counts",
    "cohort_retention",
    "corpus_prep_pipeline",
    # round 2: the two de-bottlenecked global-order queries
    "price_histogram_equidepth",
    "vocab_top_tokens",
    # round 3: corpus hygiene
    "quality_repetition",
    "decontaminate_ngram",
    "domain_mixture",
    "text_lm_coverage",
    "rag_retrieve_chunks",
    # round 4: analytics family
    "dedup_span_windows",
    "skyline_orders",
    "anomaly_zscore_events",
    "join_asof_forward",
    "bm25_search",
    "split_leakage_audit",
    "cdc_merge_orders",
    "scd2_user_state",
    "join_asof_nearest",
    "pyds_stream_tick_summary",
    "basket_part_pairs",
    "dq_expectations",
    "split_drift_tvd",
    "session_funnel",
    "interarrival_stats",
    "candle_mad_outliers",
    # round 5: streaming twins of the analytics family + new curation ops
    "streaming_interarrival_stats",
    "streaming_candle_mad_outliers",
    "streaming_session_funnel",
    "dedup_cross_source",
    "doc_length_histogram",
    "embedding_centroid_assign",
    "dedup_containment",
    "embedding_quantize_int8",
    "part_hierarchy_rollup",
    "cooc_lift_topk",
    "inverted_index_champions",
    "conjunctive_search",
    "approx_percentile_audit",
    "streaming_dedup_exact",
    "pagerank_copurchase",
    "minhash_recall_audit",
    "embedding_dim_variance",
    "dedup_hybrid_pairs",
    "spatial_neighbor_pairs",
    "candles_incremental_update",
    "stats_chi2_independence",
    "ohlc_rollup_daily",
    "streaming_incremental_candles",
    "funnel_timed",
    "udtf_token_positions",
    "streaming_asof_enrich",
    # round 6: training order / sharding
    "dataset_shuffle_order",
    "epoch_shard_assign",
    "triangle_count_copurchase",
    "ship_interval_coverage",
    "zonemap_prune_audit",
    "ngram_novelty",
    "link_predict_copurchase",
    "feature_hash_bow",
    "bpe_top_merges",
    "multimodal_audio_chunks",
    "json_roundtrip_lines",
    "event_transition_matrix",
    "streaming_transition_counts",
    "dedup_survivorship",
    "dedup_incremental_probe",
    "denylist_redact",
    "embedding_pq_audit",
    "map_functions_battery",
    "revenue_growth_mom",
    # round 7: corpus-prep last mile + sketch/clustering completions
    "dedup_span_extents",
    "text_strip_markup",
    "corpus_prep_markup",
    "pii_redact",
    "embedding_whiten",
    "embedding_whiten_ivf",
    "bloom_prune_audit",
    "kmeans_update_step",
    # round 7 (session 2): pipeline-ops tranche — diff / planner audit /
    # contrastive mining / time-decay features
    "snapshot_diff_orders",
    "join_cardinality_audit",
    "contrastive_pairs",
    "ewma_candles",
    # round 7 (session 3): feature-store + training-loader last mile
    "pit_feature_join",
    "join_skew_audit",
    "token_id_encode",
    "length_bucket_batches",
    "source_interleave_order",
    "dedup_span_cut",
    "corpus_curation_report",
    "attribution_position",
    "anomaly_seasonal_baseline",
    "rolling_active_7d",
    "target_encode_smoothed",
    "shard_checksum_manifest",
    "quota_apportion",
    "simhash_recall_audit",
    "equidepth_bin_apply",
    "winsorize_clip",
    "group_split_users",
    # round 8: transformWithStateInPandas twins (typed-state successor)
    # + the incremental rolling-DAU view + the streaming vocab monitor
    "streaming_error_counts_tws",
    "streaming_interarrival_stats_tws",
    "streaming_transition_counts_tws",
    "streaming_rolling_active",
    "streaming_vocab_topk",
    # round 9: stateful LSH near-dup at ingest + event-time-timer sessions
    "streaming_dedup_minhash",
    "streaming_session_timers",
    "dedup_span_pow2",
    "streaming_dedup_then_candles",
    "dedup_span_suffix",
    "streaming_semi_join",
    "streaming_anti_join",
    "dedup_span_cut_suffix",
    "boilerplate_span_catalog",
    "similarity_pq_topk",
    "streaming_full_outer_join",
    "decontaminate_span",
    "decontaminate_cut",
    "similarity_ivfpq_topk",
    "streaming_decontaminate",
    # round 11: trained ANN codebooks + multi-probe; boilerplate removal
    "similarity_ivfpq_trained",
    "boilerplate_cut",
    "streaming_decontaminate_incr",
    "ann_recall_report",
    # round 12: residual encoding + index lifecycle (the recall twin and
    # the persist round-trip re-run the same training — benching the
    # search+append face and the residual index once each is the
    # representative pair; the others are correctness exhibits)
    "similarity_ivfpq_residual",
    "ann_index_append_audit",
    "dedup_semantic_cells",
    "streaming_ann_serve",
    "ann_index_staleness",
    "sample_cell_balanced",
    # round 13: refine re-rank + filtered search + k-means|| training +
    # index compaction + the BPE train/serve/stream triad (the recall
    # twin and the distortion audit re-run the same trainings — the
    # entries below cover each new face once)
    "similarity_ivfpq_refine",
    "ann_search_filtered",
    "lloyd_train_kmeanspar",
    "ann_index_compact",
    "bpe_train_merges",
    "bpe_encode_vocab",
    "streaming_ann_serve_refine",
    "streaming_bpe_encode",
]

#: Per-query regression gate: prior-round timings (bench_baseline.json);
#: slowdowns are reported on stderr (stdout stays the one JSON line).
#: A query is flagged only when BOTH the ratio exceeds REGRESSION_FACTOR
#: AND the absolute delta exceeds REGRESSION_MIN_DELTA_SEC: sub-second
#: queries at sf0.1 are jitter-dominated (GC, JIT, page-cache state of a
#: fresh VM), and a 0.3s->0.5s wobble is environment, not a plan change.
#: Round-2 data point: re-running the identical commit on a cold-booted VM
#: moved individual queries 0.8x-17x with zero code delta.
BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_baseline.json"
)
#: FROZEN epoch baseline (round-10 numbers, never self-refreshed): the
#: rolling baseline is replaced by the driver every round, so a slow
#: multi-round drift would be invisible — each round compares only to
#: the last. The epoch ratio is printed per query and in total but
#: never gates; only the rolling comparison alerts.
EPOCH_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BASELINE_EPOCH.json"
)
REGRESSION_FACTOR = 1.5
REGRESSION_MIN_DELTA_SEC = 1.0
#: Timed samples per query; the reported number is the MINIMUM of all N
#: (same estimator for improvements and regressions — see run loop).
N_SAMPLES = 3
#: SUB-5s queries get extra samples (VERDICT r10 item 6: every round's
#: flag adjudications land on this class — this VM swings sub-second
#: queries 0.8x–1.7x with zero code delta, and min-of-3 still samples
#: the slow side often enough to cross the 1.5x gate). The rule is
#: SYMMETRIC (every sub-5s query gets 5 samples, flagged or not), so it
#: tightens the estimator without the optimistic bias of re-sampling
#: only would-be regressions; the added cost is bounded by 2 x 5s x
#: (#fast queries).
N_SAMPLES_FAST = 5
FAST_QUERY_SEC = 5.0


def report_deltas(timings: dict[str, float]) -> None:
    def _load(path):
        try:
            with open(path) as f:
                return json.load(f).get("queries", {})
        except (OSError, ValueError):
            return {}

    base = _load(BASELINE_PATH)
    epoch = _load(EPOCH_PATH)
    if not base and not epoch:
        return
    regressions = []
    for name, sec in timings.items():
        prev = base.get(name)
        ep = epoch.get(name)
        ep_txt = f", {sec / ep:.2f}x epoch" if ep else ""
        if prev is None:
            print(
                f"[bench] {name}: {sec:.3f}s (new; no rolling baseline"
                f"{ep_txt})",
                file=sys.stderr,
            )
            continue
        ratio = sec / prev if prev > 0 else float("inf")
        is_reg = ratio > REGRESSION_FACTOR and sec - prev > REGRESSION_MIN_DELTA_SEC
        tag = " REGRESSION" if is_reg else ""
        print(
            f"[bench] {name}: {sec:.3f}s vs baseline {prev:.3f}s "
            f"({ratio:.2f}x roll{ep_txt}){tag}",
            file=sys.stderr,
        )
        if is_reg:
            regressions.append((name, ratio))
    if regressions:
        worst = ", ".join(f"{n} {r:.2f}x" for n, r in regressions)
        print(f"[bench] {len(regressions)} regression(s) > "
              f"{REGRESSION_FACTOR}x: {worst}", file=sys.stderr)
    for label, ref in (("rolling", base), ("epoch", epoch)):
        common = [n for n in timings if n in ref]
        if common:
            got = sum(timings[n] for n in common)
            want = sum(ref[n] for n in common)
            print(
                f"[bench] total vs {label}: {got:.1f}s / {want:.1f}s "
                f"= {got / want:.2f}x over {len(common)} shared queries",
                file=sys.stderr,
            )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session(app_name="engine-bench")

    # Steady-state measurement: run each query once untimed first so
    # one-time costs (whole-stage-codegen compilation, JVM JIT, state-store
    # init) are paid outside the timed run. Warm at the SAME sf dir: plan
    # shape can depend on input size (adaptive source fan-out), and a
    # different shape means a codegen-cache miss in the timed run.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", sf_dir)
    # Known-fast set for sample-count classification (r11 ADVICE): a
    # genuinely sub-5s query whose base samples ALL land above 5s on a
    # jittery run would otherwise escape the N_SAMPLES_FAST treatment —
    # the exact class the hardening targets. Baseline times are the
    # jitter-free prior.
    known_fast: set[str] = set()
    for path in (BASELINE_PATH, EPOCH_PATH):
        try:
            with open(path) as f:
                ref = json.load(f).get("queries", {})
        except (OSError, ValueError):
            ref = {}
        known_fast |= {n for n, s in ref.items() if s < FAST_QUERY_SEC}
    timings: dict[str, float] = {}

    def run_pass(spark, names: list[str]) -> None:
        for name in names:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            if os.path.isdir(warm_dir):
                try:
                    fn(spark, warm_dir).count()
                except Exception:
                    pass
            # Cold data, warm code: drop any DataFrame caches the warm
            # run populated (e.g. the MinHash shingle-set persist) so the
            # timed run measures real execution, not a cache replay.
            def run_once() -> float:
                spark.catalog.clearCache()
                start = time.perf_counter()
                fn(spark, sf_dir).count()
                return time.perf_counter() - start

            # Sampling policy: min-of-N for EVERY query, symmetric by
            # design. Identical commits have measured 1.5s one run and
            # 7.7s the next on this VM (GC / page-cache weather), so
            # single-shot numbers are not comparable round-over-round.
            # Re-sampling only would-be regressions (the old policy)
            # biased the report optimistic — improvements kept their
            # lucky sample while regressions got retries; min-of-N
            # applies the same estimator to both directions. Sub-5s
            # queries take N_SAMPLES_FAST samples (jitter-dominated
            # class — see the constant's note). Classification uses the
            # MIN of the base samples OR a sub-5s baseline time
            # (known_fast): a genuinely-fast query whose samples land on
            # the slow side of the jitter band is exactly the one that
            # needs the extras.
            samples = [run_once() for _ in range(N_SAMPLES)]
            if min(samples) < FAST_QUERY_SEC or name in known_fast:
                samples += [
                    run_once() for _ in range(N_SAMPLES_FAST - N_SAMPLES)
                ]
            timings[name] = round(min(samples), 4)

    # Two-pass suite split (VERDICT r11 item 5): stateful streaming
    # queries run in their OWN FIRST-POSITIONED pass in a fresh session,
    # then the session restarts for the batch class. Mechanism being
    # killed: streaming_dedup_minhash (13s, transformWithState) flagged
    # 1.6–1.7x in two full r11 suite runs yet was flat (0.99–1.02x) in
    # three isolated sessions with its module untouched — after ~140
    # batch queries have churned the JVM (state-store providers, codegen
    # cache, old-gen pressure), long stateful queries pay a
    # suite-position tax that round-over-round comparison reads as a
    # regression. A fixed early position in a dedicated session makes
    # their environment reproducible; the batch pass gets its own fresh
    # JVM so both classes decorrelate. Per-query warm runs still pay the
    # one-time costs inside each session.
    streaming_names = [
        n for n in HEADLINE if n.startswith(("streaming_", "pyds_stream"))
    ]
    batch_names = [n for n in HEADLINE if n not in set(streaming_names)]
    run_pass(spark, streaming_names)
    spark.stop()
    spark = build_session(app_name="engine-bench-batch")
    run_pass(spark, batch_names)

    total = round(sum(timings.values()), 4)
    report_deltas(timings)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The driver tail-captures only the LAST ~2000 chars of stdout; at 87
    # headline queries the full per-query map no longer fits on one line
    # (round-5 post-mortem: BENCH_r05.json recorded "parsed": null because
    # the line's head was cut). So: the COMPLETE artifact goes to a
    # committed file, and stdout gets one bounded JSON line — same schema,
    # with the queries map trimmed slowest-first to fit the capture window.
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(local_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(bounded_line(payload), sort_keys=False))
    spark.stop()


#: Hard cap for the printed line; the driver keeps the last 2000 chars of
#: stdout, so stay well under it (trailing newline + any straggler stderr
#: interleaving eats into the window too).
MAX_LINE_CHARS = 1800


def bounded_line(payload: dict) -> dict:
    """Trim ``payload["queries"]`` (slowest-first, timings to one
    decimal) until the serialized line fits MAX_LINE_CHARS. Full map is
    in BENCH_LOCAL.json."""
    raw = payload["queries"]
    timings = {n: round(t, 1) for n, t in raw.items()}
    by_cost = sorted(raw, key=raw.get, reverse=True)
    keep = len(by_cost)
    while keep > 0:
        out = {
            **payload,
            "queries": {n: timings[n] for n in by_cost[:keep]},
            "queries_total": len(timings),
            "queries_shown": keep,
            "full": "BENCH_LOCAL.json",
        }
        if len(json.dumps(out)) <= MAX_LINE_CHARS or keep == 1:
            return out
        keep -= 1
    return {**payload, "queries": {}, "full": "BENCH_LOCAL.json"}


if __name__ == "__main__":
    main()
