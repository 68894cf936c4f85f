"""Streaming MinHash-LSH near-dup at ingest (streaming/neardup.py).

The registry sweep proves bounded-replay equality with the batch oracle;
these tests pin the properties the sweep can't see: the pure bucket
kernel's pairing/collapse rules, state carried ACROSS micro-batches
(multi-file tape), and the k²-guard — identical copies must add zero
candidate pairs to the bucket emission log.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark import registry
from ohlc_spark_streaming_spark._compat import ensure_protobuf
from ohlc_spark_streaming_spark.session import scoped_confs
from ohlc_spark_streaming_spark.sources.batch import load_table
from ohlc_spark_streaming_spark.streaming.neardup import (
    _bucket_emit,
    lsh_band_rows,
    neardup_finalize,
    tws_lsh_candidates,
)

from .conftest import ROCKSDB_CONFS, SF_SMOKE

needs_protobuf = pytest.mark.skipif(
    not ensure_protobuf(),
    reason="transformWithState needs google.protobuf and no pure-python "
    "runtime was found on this machine (_compat.ensure_protobuf)",
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_bucket_emit_kernel():
    """Pure kernel: new fps pair against state and earlier-in-batch fps,
    identical copies emit nothing and add no state, pairs normalized."""
    pairs, added = _bucket_emit(["b", "a", "b"], {"c"})
    assert added == {"a", "b"}
    assert sorted(pairs) == [("a", "b"), ("a", "c"), ("b", "c")]
    # all-duplicates batch: nothing emitted, nothing added
    pairs, added = _bucket_emit(["c", "c"], {"c"})
    assert pairs == [] and added == set()
    # empty state: first fp emits nothing, second pairs with it
    pairs, added = _bucket_emit(["x", "y"], set())
    assert pairs == [("x", "y")] and added == {"x", "y"}


def _doc_tape_stream(spark, tmp_path, docs, n_files=4):
    """Write docs as an n-file tape (doc_id % n interleave) and open it as
    a 1-file-per-trigger stream — each file becomes one micro-batch, so
    near-dup pairs must be found across batch boundaries."""
    src = str(tmp_path / "docs_split")
    docs.withColumn("part", F.col("doc_id") % n_files).repartitionByRange(
        n_files, "part"
    ).drop("part").write.mode("overwrite").parquet(src)
    return (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


@needs_protobuf
def test_lsh_candidates_across_batches(tmp_path, spark):
    """A 4-file tape (documents interleaved across batches) through the
    stateful band buckets + finalize equals the batch LSH operator exactly
    — pairs whose endpoints arrive in DIFFERENT micro-batches are found
    via MapState, not within-batch luck."""
    from ohlc_spark_streaming_spark.queries.streaming import _run_tws

    docs = load_table(spark, SF_SMOKE, "documents")
    stream = _doc_tape_stream(spark, tmp_path, docs)
    cand = _run_tws(
        spark,
        lambda: tws_lsh_candidates(lsh_band_rows(stream)),
        "append",
    )
    got = neardup_finalize(cand, docs, threshold=0.7)
    want = registry.QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE)
    assert _rows(got) == _rows(want)


@needs_protobuf
def test_identical_copies_add_no_candidates(tmp_path, spark):
    """The k² guard: duplicating every document 3x (distinct doc_ids,
    identical text) must leave the bucket CANDIDATE log unchanged — the
    in-state fingerprint collapse absorbs identical copies — while the
    finalize stage expands groups to the (by-definition quadratic) doc
    pairs."""
    from ohlc_spark_streaming_spark.queries.streaming import _run_tws

    docs = load_table(spark, SF_SMOKE, "documents").limit(60)
    base = docs.select("doc_id", "text")
    k = 3
    dup = base
    for i in range(1, k):
        dup = dup.unionByName(
            base.select(
                (F.col("doc_id") + F.lit(10_000 * i)).alias("doc_id"), "text"
            )
        )

    def run(d, tag):
        stream = _doc_tape_stream(spark, tmp_path / tag, d)
        return _run_tws(
            spark,
            lambda: tws_lsh_candidates(lsh_band_rows(stream)),
            "append",
        )

    cand_base = run(base, "base")
    cand_dup = run(dup, "dup")
    # identical content set ⇒ identical distinct candidate pairs
    assert _rows(cand_base.distinct()) == _rows(cand_dup.distinct())
    # and the duplicated corpus's RAW emission log is no bigger — copies
    # never re-emit a bucket pair (k² guard lives in state, not dedup)
    assert cand_dup.count() == cand_base.count()
    # finalize on the duplicated corpus expands identical-copy groups
    got = neardup_finalize(cand_dup, dup, threshold=0.7)
    # every original doc now has k-1 identical twins at J=1.0
    n_identity_pairs = 60 * (k * (k - 1) // 2)
    assert got.where(F.col("jaccard") == 1.0).count() >= n_identity_pairs


@needs_protobuf
def test_lsh_state_survives_checkpoint_restart(tmp_path, spark):
    """The ingest-across-days story: bucket MapState must persist in the
    checkpoint across query restarts. Run the band-bucket operator over
    half the corpus, land the other half, restart from the SAME
    checkpoint — run 2 processes only the delta, pairs it against the
    RESTORED bucket membership (no reprocessing), and the union of the
    two emission logs verifies+expands to exactly the batch LSH answer."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once(tag):
        out = str(tmp_path / f"log_{tag}")

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out)

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            tws_lsh_candidates(lsh_band_rows(stream))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    with scoped_confs(spark, ROCKSDB_CONFS):
        log1 = run_once("lsh_ckpt_1")
        n1 = log1.count()
        second.coalesce(1).write.mode("append").parquet(src)
        log2 = run_once("lsh_ckpt_2")

    # run 2 did not re-emit run 1's pairs (offsets + state restored)
    assert log1.count() == n1
    from ohlc_spark_streaming_spark.operators.dedup import (
        content_fp as _fp,
        shingle_sets,
    )
    from pyspark.sql import functions as SF

    new_fps = {
        r.fp
        for r in shingle_sets(second)
        .select(_fp(SF.sort_array("units")).alias("fp"))
        .distinct()
        .collect()
    }
    old_only = [
        r
        for r in log2.collect()
        if r.fp_a not in new_fps and r.fp_b not in new_fps
    ]
    assert old_only == []  # every run-2 pair touches new content
    # union of the two logs == batch answer end-to-end
    got = neardup_finalize(log1.unionByName(log2), docs, threshold=0.7)
    want = registry.QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE)
    assert _rows(got) == _rows(want)
