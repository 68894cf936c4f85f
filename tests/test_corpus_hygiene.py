"""Plan + semantics guards for the corpus-hygiene operators
(quality_repetition, decontaminate_ngram, domain_mixture).

Correctness vs the DuckDB oracle is covered by test_registry_oracle; here
we pin the 100 TB-relevant plan shapes and the semantic invariants the
oracle can't see.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.functions.hashing import P
from ohlc_spark_streaming_spark.queries.llm import DOMAIN_TARGET_BPS
from ohlc_spark_streaming_spark.registry import QUERIES

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quality_repetition_is_shuffle_free(spark):
    """The run-length fold keeps bigram counting inside the row: the whole
    query must execute without a single exchange (at 100 TB this is a pure
    map-only pass over the corpus)."""
    df = QUERIES["quality_repetition"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_quality_repetition_values(spark):
    rows = {r["doc_id"]: r for r in QUERIES["quality_repetition"](spark, SF_SMOKE).collect()}
    assert rows, "no documents scored"
    for r in rows.values():
        assert r["n_tokens"] >= 2
        assert 0.0 <= r["dup_word_frac"] < 1.0
        # top bigram count is at least 1 occurrence out of n-1 bigrams
        assert 0.0 < r["top_bigram_frac"] <= 1.0
        assert r["is_repetitive"] == (
            r["dup_word_frac"] > 0.82 or r["top_bigram_frac"] > 0.18
        )


def test_decontaminate_broadcasts_benchmark_set(spark):
    """The eval-set trigram membership check must be a broadcast hash
    join — shuffling the corpus side against a tiny benchmark is the
    wrong plan at any scale."""
    df = QUERIES["decontaminate_ngram"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_excludes_benchmark_docs(spark):
    rows = QUERIES["decontaminate_ngram"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % 20 != 0, "benchmark docs must not be scored"
        assert 0 <= r["n_hits"] <= r["n_trigrams"]
        assert r["is_contaminated"] == (r["contamination_frac"] >= 0.8)


def test_domain_mixture_rates_and_counts(spark):
    rows = {r["lang"]: r for r in QUERIES["domain_mixture"](spark, SF_SMOKE).collect()}
    assert set(rows) == set(DOMAIN_TARGET_BPS)
    for lang, r in rows.items():
        assert r["target_bps"] == DOMAIN_TARGET_BPS[lang]
        assert 0 <= r["rate_bps"] <= 10000
        assert 0 <= r["n_sampled"] <= r["n_docs"]
        # rate_bps == 10000 means keep everything: the sample must then be
        # the full language slice.
        if r["rate_bps"] == 10000:
            assert r["n_sampled"] == r["n_docs"]


def test_domain_mixture_sample_is_content_stable(spark):
    """Re-running the query yields the identical sample (content-hash
    membership, no rand())."""
    a = sorted(map(tuple, QUERIES["domain_mixture"](spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, QUERIES["domain_mixture"](spark, SF_SMOKE).collect()))
    assert a == b


def _rh(s: str) -> int:
    """Python twin of functions.hashing.rolling_hash."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % P
    return acc


def test_boilerplate_cut_planted(spark):
    """boilerplate_cut semantics by construction: a 12-token phrase
    repeated across three docs enters the catalog and EVERY occurrence
    is cut (including two occurrences inside one doc); a 12-token
    phrase occurring once and an 11-token repeated run (too short to
    form a repeated 12-gram) both survive; and the per-source scrub
    checksums equal the sum/xor of the rolling hash of the expected
    ``doc_id:kept_text`` — byte-for-byte, recomputed in Python."""
    from ohlc_spark_streaming_spark.queries.analytics import (
        _BOILER_K,
        q_boilerplate_cut,
    )

    assert _BOILER_K == 12
    boiler = [f"b{i}" for i in range(12)]    # the repeated phrase
    once = [f"o{i}" for i in range(12)]      # occurs once -> survives
    short = [f"s{i}" for i in range(11)]     # 11 tokens -> survives
    texts = {
        # srcA: boilerplate twice in doc 0 (non-adjacent), once in doc 1
        0: ("srcA", ["x0", "x1"] + boiler + ["x2"] + boiler + ["x3"]),
        1: ("srcA", boiler + ["y0"] + once),
        # srcB: one more occurrence (3 docs total), plus the survivors
        2: ("srcB", ["z0"] + boiler),
        3: ("srcB", ["z1"] + short + ["z2"] + short),
        4: ("srcB", [f"u{i}" for i in range(14)]),
    }
    kept_expected = {
        0: ["x0", "x1", "x2", "x3"],
        1: ["y0"] + once,
        2: ["z0"],
        3: texts[3][1],
        4: texts[4][1],
    }
    tape = tempfile.mkdtemp(prefix="bcut_docs_")
    try:
        spark.createDataFrame(
            [(k, src, " ".join(v)) for k, (src, v) in texts.items()],
            "doc_id long, source string, text string",
        ).write.mode("overwrite").parquet(
            os.path.join(tape, "documents.parquet")
        )
        got = {r.source: r for r in q_boilerplate_cut(spark, tape).collect()}
    finally:
        shutil.rmtree(tape, ignore_errors=True)

    want = {}
    for d, (src, toks) in texts.items():
        w = want.setdefault(
            src,
            {"n": 0, "touched": 0, "before": 0, "after": 0, "sum": 0, "xor": 0},
        )
        kept = kept_expected[d]
        h = _rh(f"{d}:{' '.join(kept)}")
        w["n"] += 1
        w["touched"] += int(len(kept) != len(toks))
        w["before"] += len(toks)
        w["after"] += len(kept)
        w["sum"] += h
        w["xor"] ^= h
    assert set(got) == set(want)
    for src, w in want.items():
        r = got[src]
        assert r.n_docs == w["n"], (src, r)
        assert r.docs_touched == w["touched"], (src, r)
        assert r.tokens_before == w["before"], (src, r)
        assert r.tokens_after == w["after"], (src, r)
        assert r.tokens_cut == w["before"] - w["after"], (src, r)
        assert r.scrub_sum == w["sum"], (src, r)
        assert r.scrub_xor == w["xor"], (src, r)
