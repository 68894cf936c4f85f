"""Benchmark entry point for the OHLC streaming engine.

Run from the repository root::

    python3 perfbench/run.py --workload candle_replay --seed 1 --seconds 20 --trace 0

Workloads: ``candle_replay`` drives the deployed candle topology
(``streaming.app.build_app``) over a seeded wire-trade tape;
``registry_mix`` runs a fixed mix of registry queries over the sf0.1 test
tables in ``perfbench/data``.
Every output is checked against a DuckDB oracle outside the timed window.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and the
spans are written to ``.perfbench/spans-<workload>-<seed>.json``.
Workload-specific figures (rows/s, tail percentile and sample count,
per-query seconds) are printed on the line before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("candle_replay", "registry_mix")


def per_layer_units(root: str) -> dict[str, str]:
    """Name → unit of every per-layer metric, as ``BENCHMARK.json`` lists
    them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    p = argparse.ArgumentParser(description="OHLC engine benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ohlc_spark_streaming_spark", "__init__.py")):
        print("perfbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import harness as H

    scratch = H.work_root(root, f"run-{os.getpid()}")
    H.configure_env(root, scratch)
    try:
        if args.workload == "registry_mix":
            import registry_mix

            out = registry_mix.run(root, args.seed, args.seconds, bool(args.trace), scratch)
        else:
            import candles

            out = candles.candle_replay(root, args.seed, args.seconds, bool(args.trace), scratch)
        if args.trace:
            units = per_layer_units(root)
            layers = out["layers"]
            tracer = out["tracer"]
            # The hooks run outside the timed window, so they add nothing
            # to work_s; this is the time they take on their own.
            layers["trace.hook_ms"] = 1000.0 * tracer.hook_s
            unknown = sorted(set(layers) - set(units))
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
            # Layers this workload does not exercise report 0.
            metrics = {n: H.metric(float(layers.get(n, 0.0)), u) for n, u in units.items()}
            spans = os.path.join(root, ".perfbench", f"spans-{args.workload}-{args.seed}.json")
            tracer.write(spans)
            print(f"spans: {spans}", file=sys.stderr)
        else:
            metrics = out["metrics"]
        print(json.dumps({"workload": args.workload, "seed": args.seed, **out["info"]}))
    finally:
        H.shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    print(H.result_line(out["failed"] == 0, out["attempted"], out["failed"], metrics))
    return 0


if __name__ == "__main__":
    started = time.time()
    code = main()
    print(f"perfbench: {time.time() - started:.1f} s wall", file=sys.stderr)
    raise SystemExit(code)
