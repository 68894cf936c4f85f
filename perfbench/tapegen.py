"""Seeded wire-trade tape generator, run as its own process.

Each tape file holds one wire record per line: ``topic<TAB>value``, where
``value`` is the trade JSON a Kafka record would carry (all fields are
strings, as in the reference's wire schema). The generator produces:

* Pareto-skewed symbols (Zipf weights over ``SYMBOLS`` names),
* about 1% malformed JSON values (truncated records),
* about 10% topics that do not match ``parsed-trades-(.+)-usdt``, so the
  base symbol falls back to ``from_symbol``,
* integer epoch-second timestamps with many trades per second (ties),
* disorder bounded to ``DISORDER_S`` seconds, which stays inside the
  application's 2-minute watermark so no trade is dropped as late,
* quantities that are multiples of 1/16 and prices with two decimals, so
  volume sums and price extrema are exact in binary floating point.

Every file is written under a temporary name in ``<out>/.staging`` and
renamed into ``<out>`` (a rename is atomic, so a reader never sees a
partial file). The generator writes a JSON report with the rows and valid
rows of each file.

Usage::

    python3 perfbench/tapegen.py --seed 1 --out DIR --files 12 --report tape.json
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random

EPOCH0 = 1_704_067_200  # 2024-01-01T00:00:00Z, start of event time
MALFORMED_SHARE = 0.01
FALLBACK_TOPIC_SHARE = 0.10
SYMBOLS = 50
TRADES_PER_FILE = 5000
#: Event-time seconds each file covers.
SECS_PER_FILE = 10
#: How far a trade's timestamp may lag its file's span, so a trade lags
#: the latest event time of the earlier files by at most DISORDER_S + 1
#: seconds. The application's watermark trails that time by 2 minutes:
#: from about 120 on, the state operator would drop trades as late, and
#: the oracle, which counts every admitted trade, would no longer hold.
DISORDER_S = 60


def file_lines(
    rng: random.Random,
    k: int,
    symbols: list[str],
    cum_weights: list[float],
    prices: dict[str, int],
) -> tuple[list[str], int]:
    """One file's lines, and how many of them carry a valid trade."""
    lines = []
    valid = 0
    start = EPOCH0 + k * SECS_PER_FILE
    for i in range(TRADES_PER_FILE):
        sym = rng.choices(symbols, cum_weights=cum_weights)[0]
        # Price random walk in cents; never below one dollar.
        prices[sym] = max(100, prices[sym] + rng.randint(-5, 5))
        ts = start + rng.randrange(SECS_PER_FILE) - rng.randrange(DISORDER_S + 1)
        record = {
            "type": "0",
            "market": "bench",
            "from_symbol": sym,
            "to_symbol": "usdt",
            "flags": "1",
            "trade_id": f"{k}-{i}",
            "timestamp": str(ts),
            "quantity": repr(rng.randint(1, 64) / 16),
            "price": f"{prices[sym] // 100}.{prices[sym] % 100:02d}",
            "total_value": "0",
            "received_ts": str(ts),
            "ccseq": str(i),
            "timestamp_ns": str(ts * 1_000_000_000),
            "received_ts_ns": str(ts * 1_000_000_000),
        }
        value = json.dumps(record, separators=(",", ":"))
        if rng.random() < MALFORMED_SHARE:
            value = value[: rng.randrange(1, len(value) - 1)]
        else:
            valid += 1
        if rng.random() < FALLBACK_TOPIC_SHARE:
            topic = f"raw-trades-{sym}"
        else:
            topic = f"parsed-trades-{sym}-usdt"
        lines.append(f"{topic}\t{value}\n")
    return lines, valid


def generate(seed: int, out: str, n_files: int) -> dict:
    rng = random.Random(seed)
    symbols = [f"c{i:02d}" for i in range(SYMBOLS)]
    weights = [1.0 / (r + 1) ** 1.1 for r in range(SYMBOLS)]
    rng.shuffle(weights)
    cum_weights = list(itertools.accumulate(weights))
    prices = {s: rng.randint(1_000, 100_000) for s in symbols}
    staging = os.path.join(out, ".staging")
    os.makedirs(staging, exist_ok=True)
    files = []
    for k in range(n_files):
        lines, valid = file_lines(rng, k, symbols, cum_weights, prices)
        name = f"tape-{k:05d}.txt"
        tmp = os.path.join(staging, name)
        with open(tmp, "w") as f:
            f.writelines(lines)
        os.rename(tmp, os.path.join(out, name))
        files.append({"name": name, "rows": len(lines), "valid": valid})
    os.rmdir(staging)
    return {
        "seed": seed,
        "files": files,
        "rows": sum(f["rows"] for f in files),
        "valid": sum(f["valid"] for f in files),
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--report", required=True)
    p.add_argument("--files", type=int, required=True)
    args = p.parse_args()
    report = generate(args.seed, args.out, args.files)
    tmp = args.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(report, f)
    os.rename(tmp, args.report)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
