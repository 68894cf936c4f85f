"""BPE trainer pins (VERDICT r12 item 5): the codegen fold's greedy
merge application against a pure-Python reference on adversarial
inputs, merge-order determinism, merges building on merges, and the
streaming encoder's multi-batch equality with the batch encode."""

from __future__ import annotations

from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.operators.bpe import apply_merge, bpe_train
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def _greedy_ref(syms: list[str], left: str, right: str) -> list[str]:
    """Textbook greedy left-to-right non-overlapping merge scan."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


ADVERSARIAL = [
    # (symbols, left, right) — char runs, overlaps, merged-symbol
    # lookalikes, boundary cases
    (["a", "a", "a"], "a", "a"),
    (["a", "a", "a", "a"], "a", "a"),
    (["a", "a", "a", "a", "a"], "a", "a"),
    (["a", "b", "a", "b", "a", "b"], "a", "b"),
    (["a", "b", "a", "b"], "b", "a"),
    (["x", "a", "b", "a", "b", "y"], "a", "b"),
    (["a", "a", "b"], "a", "b"),
    (["b", "a", "a", "b"], "a", "b"),
    (["ab", "a", "b"], "a", "b"),
    (["a", "ab", "b"], "a", "b"),
    (["a"], "a", "a"),
    ([], "a", "b"),
    (["b", "b", "a", "a", "a", "b", "b"], "b", "b"),
]


def test_apply_merge_matches_greedy_reference(spark):
    for syms, left, right in ADVERSARIAL:
        df = spark.createDataFrame(
            [(0, syms)], schema="id long, syms array<string>"
        )
        got = df.select(
            apply_merge(F.col("syms"), left, right).alias("m")
        ).collect()[0].m
        assert got == _greedy_ref(syms, left, right), (syms, left, right, got)


def test_bpe_train_deterministic_and_compounding(spark):
    """Two runs produce the identical merge table (the (cnt DESC, pair
    ASC) tie-break is total), counts never increase with step (each
    round merges the then-best pair), and at least one later rule
    consumes a symbol built by an earlier one (training compounds —
    the property the one-step exhibit cannot show)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    a = [tuple(r) for r in bpe_train(docs, 10).collect()]
    b = [tuple(r) for r in bpe_train(docs, 10).collect()]
    assert a == b
    assert len(a) == 10
    steps = [r[0] for r in a]
    assert steps == sorted(steps)
    cnts = [r[3] for r in a]
    assert all(x >= y for x, y in zip(cnts, cnts[1:])), cnts
    merged_syms = {r[2] for r in a}
    compound = [
        r for r in a if any(s in merged_syms and len(s) > 1
                            for s in r[1].split(" "))
    ]
    assert compound, a


def test_bpe_encode_reconstructs_and_compresses(spark):
    """The encoder's segmentation is lossless (tokens concatenate back
    to the word), strictly compresses at least some words (a merge with
    corpus support must fire somewhere), and never exceeds the
    character count."""
    from ohlc_spark_streaming_spark.operators.bpe import (
        bpe_encode,
        bpe_train_rules,
        word_freqs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    rules = bpe_train_rules(docs, 10)
    enc = bpe_encode(word_freqs(docs), rules).collect()
    assert enc
    for r in enc:
        assert "".join(r.syms) == r.word
        assert len(r.syms) <= len(r.word) or r.word == ""
    assert any(len(r.syms) < len(r.word) for r in enc)


def test_streaming_bpe_encode_multibatch_equals_batch(spark, tmp_path):
    """The frozen-tokenizer pin: the documents table split into THREE
    real micro-batches, encoded per batch by fold_bpe_encode with the
    batch-trained merge table, merges to row-for-row the batch
    bpe_encode_vocab answer — a frozen tokenizer is arrival-batching
    invariant because segmentation is a pure function of (word, rules)
    and the only cross-batch state is the word-frequency ledger."""
    import os

    from ohlc_spark_streaming_spark.operators.bpe import (
        bpe_encode,
        bpe_train_rules,
        word_freqs,
    )
    from ohlc_spark_streaming_spark.queries.bpe_oracles import _BPE_MERGES
    from ohlc_spark_streaming_spark.queries.streaming import fold_bpe_encode

    docs = load_table(spark, SF_SMOKE, "documents")
    rules = bpe_train_rules(docs, _BPE_MERGES)
    tape_dir = str(tmp_path / "doctape")
    docs.withColumn("part", F.col("doc_id") % 3).repartitionByRange(
        3, "part"
    ).drop("part").write.mode("overwrite").parquet(tape_dir)
    n_files = len([f for f in os.listdir(tape_dir) if f.endswith(".parquet")])
    assert n_files == 3, n_files
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tape_dir)
    )
    got = set(map(tuple, fold_bpe_encode(stream, rules).collect()))
    want = set(
        map(
            tuple,
            bpe_encode(word_freqs(docs), rules)
            .select(
                "word",
                F.col("freq").cast("long").alias("freq"),
                F.size("syms").cast("long").alias("n_tokens"),
                F.concat_ws("|", "syms").alias("tokens"),
            )
            .collect(),
        )
    )
    assert got == want and len(got) > 0
