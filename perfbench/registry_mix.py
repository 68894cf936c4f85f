"""The ``registry_mix`` workload: a fixed mix of registry queries, one at a
time, over the project's fixed sf0.1 test tables (TESTDATA.md, seed 42),
copied byte for byte into ``perfbench/data/sf0.1`` so that the benchmark
reads nothing outside its checkout. The inputs do not depend on
``--seed``; the seed is recorded with the run.

The mix holds costs the engine's open performance items target: banded
LSH with its persisted group table (``dedup_minhash_lsh``), IVF search
(``similarity_ivf_topk``) and join-and-aggregate shuffle sizing
(``q5_region_revenue``). It parses no trades and holds no candle state,
so it is the control for candle changes, and ``candle_replay`` is the
control for it.

Each query runs under its own job group, so its job census holds only its
own jobs; a streaming query's micro-batches run under their run id, which
the progress listener reports. As in the engine's own ``bench.py``, the
queries run over the same tables untimed first (plan shapes, and so the
generated code, depend on the input size), and the DataFrame caches are
cleared before every query, so the timed passes measure warm code on cold
data. The JVM keeps getting faster over the first passes, so three
passes warm it up. A query's time is its median over the timed passes.
Results are collected in the timed window and compared with
``registry.ORACLES`` after it, through
``tests/oracle_utils.compare_query_to_oracle``.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import harness as H

#: (query, group). Groups sum into the ``registry.group.*`` figures.
#: ``trade_pipeline`` is left out: it parses wire trades and builds
#: candles, so it would move with the candle layers this workload is the
#: control for.
MIX = (
    ("dedup_minhash_lsh", "dedup"),
    ("similarity_ivf_topk", "ann"),
    ("q5_region_revenue", "relational"),
)
GROUPS = ("ann", "dedup", "relational")
#: Run once, cold, after the timed passes, in traced runs only, to fit
#: the benchmark's run budget. ``dedup_cross_source`` repeats the LSH pair
#: generation of ``dedup_minhash_lsh`` and adds two joins;
#: ``q18_large_volume_customers`` is a second join-and-aggregate like
#: ``q5_region_revenue``; ``similarity_ivfpq_residual`` adds product
#: quantization and index training to the search of
#: ``similarity_ivf_topk`` (about 7 s against 1.2 s warm on 4 cores), too
#: long to repeat in every pass; a cold ``streaming_dedup_minhash`` (Python
#: state workers) takes longer than the whole timed mix.
#: ``streaming_ann_serve``, which repeats the index training of
#: ``similarity_ivfpq_residual``, does not run.
TRACE_ONLY = (
    ("dedup_cross_source", "dedup"),
    ("q18_large_volume_customers", "relational"),
    ("similarity_ivfpq_residual", "ann"),
    ("streaming_dedup_minhash", "dedup"),
)
#: Untimed passes before the timed ones. On 4 cores the first (cold) pass
#: takes about three times a warm one, and ``dedup_minhash_lsh`` is still
#: about 30% slower on the second pass than from the fourth on.
WARM_PASSES = 3
#: An untraced run times ``--seconds / ASSUMED_PASS_S`` passes, three at
#: ``--seconds 20``; a warm pass takes 3-6 s on 4 cores.
ASSUMED_PASS_S = 6.0
#: Planned, not run, in each set-up. Streaming queries in the registry
#: run their stream while building the DataFrame, so this one is batch.
SETUP_QUERY = "q5_region_revenue"
#: The sf0.1 test tables, as the engine's own bench reads them.
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def run(root: str, seed: int, seconds: float, trace: bool, scratch: str) -> dict:
    from ohlc_spark_streaming_spark.registry import ORACLES, QUERIES

    log = H.ProgressLog()
    tracer = H.Tracer() if trace else None
    t_wl = time.time()
    wl_span = "workload"

    def once():
        t0 = time.time()
        spark = H.new_session("perfbench-registry", scratch)
        t1 = time.time()
        log.attach(spark)
        QUERIES[SETUP_QUERY](spark, TABLES)  # plans only: no action runs
        t2 = time.time()
        if tracer is not None:
            sid = tracer.add("setup", t0, t2, wl_span)
            tracer.add("session.build_session", t0, t1, sid)
            tracer.add("queries.plan", t1, t2, sid)
        return spark, spark.stop

    setup_s, spark = H.time_setups(once)
    pid = H.jvm_pid(spark)
    sc = spark.sparkContext

    queries = MIX + (TRACE_ONLY if trace else ())
    times: dict[str, list[float]] = {q: [] for q, _ in queries}
    census: dict[str, dict] = {}
    streams: dict[str, list[dict]] = {}
    results: dict[str, tuple] = {}
    warm_times: dict[str, list[float]] = {q: [] for q, _ in MIX}
    raw_s: dict[str, list[float]] = {q: [] for q, _ in queries}
    failed = attempted = 0

    def run_query(name: str, group: str, timed: bool, record: bool) -> None:
        """One query under its own job group; ``timed`` adds its time to the
        figures, ``record`` its census and stream progress. The last result
        of each query is the one checked."""
        nonlocal failed, attempted
        known = set(log.by_run)
        spark.catalog.clearCache()
        sc.setJobGroup(group, name)
        attempted += 1
        ticks = H.cpu_ticks()
        t0 = time.time()
        try:
            df = QUERIES[name](spark, TABLES)
            rows = df.collect()
        except Exception:
            traceback.print_exc()
            failed += 1
            return
        finally:
            sc.setJobGroup(None, None)
        t1 = time.time()
        if timed:
            results[name] = (df.schema, rows)
            times[name].append(H.unstolen(t1 - t0, ticks, H.cpu_ticks()))
            raw_s[name].append(t1 - t0)
        else:
            warm_times[name].append(t1 - t0)
        if record:
            runs = sorted(set(log.by_run) - known)
            for rid in runs:
                log.wait_terminated(rid, timeout=30)
            streams[name] = [p for rid in runs for p in log.batches(rid)]
            c = H.job_census(spark, group)
            for rid in runs:
                for k, v in H.job_census(spark, rid).items():
                    c[k] += v
            census[name] = c
            tracer.add(f"queries.{name}", t0, t1, wl_span, **c)

    # Traced runs warm up with one pass and time one (below): their
    # figures carry no bound, and the trace-only queries need the time.
    t_warm = time.time()
    for w in range(1 if trace else WARM_PASSES):
        for name, _ in MIX:
            run_query(name, f"perfbench:{name}:warm{w}", False, False)
    warm_s = time.time() - t_warm
    if tracer is not None:
        tracer.add("warm_passes", t_warm, t_warm + warm_s, wl_span)

    # The pass count follows --seconds, not the measured pass time, so it
    # is the same on every commit. A pass's time is the sum of its query
    # times, so the traced census between queries stays outside it.
    passes = []
    ticks0 = H.cpu_ticks()
    while len(passes) < (1 if trace else max(1, round(seconds / ASSUMED_PASS_S))):
        before = {q: len(times[q]) for q, _ in MIX}
        for name, _ in MIX:
            run_query(name, f"perfbench:{name}:{len(passes)}", True, trace and not passes)
        passes.append(sum(sum(times[q][before[q]:]) for q, _ in MIX))
    steal = H.steal_share(ticks0, H.cpu_ticks())
    if trace:
        for name, _ in TRACE_ONLY:
            run_query(name, f"perfbench:{name}", True, True)

    t_check = time.time()
    failed += check(spark, results, ORACLES, root)
    print(f"oracle check: {time.time() - t_check:.1f} s", file=sys.stderr)

    # A query's time is its median over the timed passes; the mix's is
    # the sum of those, the time of a typical pass.
    per_query = {q: H.p50(ts) for q, ts in times.items() if ts}
    mix_s = [per_query[q] for q, _ in MIX if q in per_query]
    group_s = {g: sum(per_query.get(q, 0.0) for q, gg in MIX if gg == g) for g in GROUPS}
    out = {
        "metrics": {
            "setup_s": H.metric(setup_s, "s"),
            "peak_rss_mb": H.metric(H.peak_rss_mb(pid), "MB"),
            "work_s": H.metric(sum(mix_s), "s"),
            "op_p50_ms": H.metric(1000.0 * H.p50(mix_s), "ms"),
            "op_tail_ms": H.metric(1000.0 * max(mix_s), "ms"),
        },
        "attempted": attempted,
        "failed": failed,
        "info": {
            "registry_total_s": sum(mix_s),
            **{f"registry_{g}_s": s for g, s in group_s.items()},
            "steal_share": steal,
            "raw_work_s": sum(H.p50(raw_s[q]) for q, _ in MIX if raw_s[q]),
            "pass_s": passes,
            "warm_pass_s": warm_s,
            "warm_query_s": warm_times,
            "query_s": per_query,
            "query_times_s": {q: times[q] for q, _ in MIX},
        },
    }
    if trace:
        layers = {f"registry.group.{g}_s": s for g, s in group_s.items()}
        for name, _ in queries:
            layers[f"registry.{name}.s"] = per_query.get(name, 0.0)
            for k, v in census.get(name, {}).items():
                layers[f"registry.{name}.{k}"] = float(v)
            batches = streams.get(name, [])
            if batches:
                layers[f"registry.{name}.add_batch_ms"] = float(
                    sum(p["durationMs"].get("addBatch", 0) for p in batches)
                )
                last = batches[-1]["stateOperators"]
                layers[f"registry.{name}.state_rows"] = float(sum(s["numRowsTotal"] for s in last))
        layers["session.shuffle_partitions"] = float(spark.conf.get("spark.sql.shuffle.partitions"))
        out["layers"] = layers
        out["tracer"] = tracer
        tracer.spans.insert(0, {"trace_id": tracer.trace_id, "span_id": wl_span, "parent": None,
                                "name": "registry_mix", "start": t_wl, "end": time.time()})
    return out


def check(spark, results: dict, oracles: dict, root: str) -> int:
    """Compare each collected result with its DuckDB oracle; returns the
    number of mismatches."""
    sys.path.insert(0, os.path.join(root, "tests"))
    import oracle_utils

    bad = 0
    for name, (schema, rows) in results.items():
        frozen = spark.createDataFrame(rows, schema)
        try:
            oracle_utils.compare_query_to_oracle(spark, lambda s, d: frozen, oracles[name], TABLES)
        except AssertionError as exc:
            bad += 1
            print(f"{name}: differs from its oracle: {str(exc)[:500]}", file=sys.stderr)
    return bad
