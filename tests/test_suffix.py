"""Suffix-array span dedup (operators/suffix.py).

The oracle sweep proves agreement with the brute gram ladder on real
data; these tests pin exactness against an independent python brute
force (real corpus + planted constructions) and the equality of the two
global-rank strategies (single-partition window vs range-partitioned
distributed path) the operator switches between by input size.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

import ohlc_spark_streaming_spark.operators.suffix as SX
from ohlc_spark_streaming_spark import registry
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def _brute(docs: dict[int, list[str]]) -> dict[int, tuple[int, int]]:
    occ: dict[tuple[int, str], int] = defaultdict(int)
    for t in docs.values():
        for k in range(1, len(t) + 1):
            for p in range(len(t) - k + 1):
                occ[(k, " ".join(t[p : p + k]))] += 1
    out = {}
    for d, t in docs.items():
        best = {p: 0 for p in range(len(t))}
        for k in range(1, len(t) + 1):
            for p in range(len(t) - k + 1):
                if occ[(k, " ".join(t[p : p + k]))] >= 2:
                    best[p] = max(best[p], k)
        mx = max(best.values()) if best else 0
        out[d] = (mx, sum(1 for v in best.values() if v == mx))
    return out


def _run(spark, df):
    return {
        r.doc_id: (r.span_exact, r.n_at_max)
        for r in SX.suffix_span_exact(df).collect()
    }


def test_suffix_span_matches_python_brute(spark):
    """Exactness on the real smoke corpus: every document's uncapped
    longest duplicated span and achieving-position count equal an
    independent O(n²) python brute force."""
    df = load_table(spark, SF_SMOKE, "documents")
    got = _run(spark, df)
    want = _brute(
        {r.doc_id: r.text.split(" ") for r in df.collect()}
    )
    assert got == want


def test_suffix_span_planted(spark):
    """Known-by-construction answers: a 40-token run shared by two docs
    gives exactly 40 (not a pow2 approximation); identical docs give
    their full length; within-doc self-repeat gives the phrase length;
    disjoint-vocabulary doc gives 0."""
    shared = [f"s{i}" for i in range(40)]
    texts = [
        " ".join([f"a{i}" for i in range(5)] + shared + ["a99"]),
        " ".join([f"b{i}" for i in range(3)] + shared),
        " ".join(f"c{i}" for i in range(20)),
        " ".join(f"c{i}" for i in range(20)),
        " ".join([f"p{i}" for i in range(7)] + ["sep"] + [f"p{i}" for i in range(7)]),
        " ".join(f"u{i}" for i in range(12)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = _run(spark, df)
    assert got[0][0] == 40 and got[1][0] == 40
    # identical docs: only position 1 starts a full-length duplicated gram
    assert got[2] == (20, 1) and got[3] == (20, 1)
    assert got[4][0] == 7
    assert got[5] == (0, 12)  # no dup anywhere: every position best=0
    assert got == _brute({i: t.split(" ") for i, t in enumerate(texts)})


def test_rank_strategies_agree(spark):
    """The distributed (range-partitioned + broadcast offsets) rank path
    must equal the single-partition window path bit-for-bit — the
    operator switches between them on input size alone."""
    df = load_table(spark, SF_SMOKE, "documents").limit(120)
    got_window = _run(spark, df)
    prev = SX.DISTRIBUTED_RANK_THRESHOLD
    SX.DISTRIBUTED_RANK_THRESHOLD = 0
    try:
        got_dist = _run(spark, df)
    finally:
        SX.DISTRIBUTED_RANK_THRESHOLD = prev
    assert got_window == got_dist


def test_global_dense_rank_is_dense_and_ordered(spark):
    """global_dense_rank (distributed path): gr is 0-based, dense, and
    follows key order; ties share a rank."""
    df = spark.createDataFrame(
        [(v,) for v in [5, 3, 9, 3, 5, 1]], "x long"
    )
    out = {
        (r.x, r.gr)
        for r in SX.global_dense_rank(df, ["x"], distributed=True).collect()
    }
    assert out == {(1, 0), (3, 1), (5, 2), (9, 3)} | {(3, 1), (5, 2)}


def test_suffix_span_releases_intermediates(spark):
    """Progressive release (round-10 memory-cliff fix): by the time
    suffix_span_exact returns, every rank table / token table / descent
    level has had its checkpoint blocks dropped — only the one-row-per-
    doc result frame may remain persisted. Retention used to be
    O(log max_len) token-sized tables, the documented 16 GiB 100x OOM."""
    texts = [" ".join(f"w{i}_{j}" for j in range(70)) for i in range(6)]
    texts.append(texts[0])  # one duplicated doc so spans are non-trivial
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # Progressive path (forced via the threshold): FULL release — the
    # materialized result frame is the only allowed survivor.
    prev = SX.DISTRIBUTED_RANK_THRESHOLD
    SX.DISTRIBUTED_RANK_THRESHOLD = 0
    try:
        before = SX._persistent_ids(spark)
        out = SX.suffix_span_exact(df)
        n = out.count()
        leaked = SX._persistent_ids(spark) - before
        assert n == 7
        assert len(leaked) <= 1, f"leaked persisted RDDs: {leaked}"
        SX.release_blocks(spark, leaked)
    finally:
        SX.DISTRIBUTED_RANK_THRESHOLD = prev
    # Small-corpus path: the ~log L rank tables and SA frame must STILL
    # be released once the pair frame lands; only the token table and
    # the capped pair frame may ride along with the lazy result.
    before = SX._persistent_ids(spark)
    out = SX.suffix_span_exact(df)
    n = out.count()
    leaked = SX._persistent_ids(spark) - before
    assert n == 7
    assert len(leaked) <= 2, f"leaked persisted RDDs: {leaked}"
    SX.release_blocks(spark, leaked)


def test_global_dense_rank_distributed_null_keys(spark):
    """Distributed-path offsets must count null keys: count_distinct
    over the raw columns skips NULL rows and silently shifts every
    later partition's offset (ADVICE r9); the struct form counts them.
    Equality with the single-partition window path pins it."""
    df = spark.createDataFrame(
        [(v,) for v in [None, 5, None, 3, 9, 3, None, 1]], "x long"
    )
    got_dist = {
        (r.x, r.gr)
        for r in SX.global_dense_rank(df, ["x"], distributed=True).collect()
    }
    got_win = {
        (r.x, r.gr)
        for r in SX.global_dense_rank(df, ["x"], distributed=False).collect()
    }
    assert got_dist == got_win
    assert {g for _, g in got_dist} == {0, 1, 2, 3, 4}


def test_suffix_cut_planted(spark):
    """dedup_span_cut_suffix semantics by construction: a 25-token run
    shared by two docs is cut from both (threshold 20), an 18-token
    shared run survives, and the scrub md5 equals the md5 of the
    expected kept text."""
    import hashlib

    from ohlc_spark_streaming_spark.queries.analytics import (
        q_dedup_span_cut_suffix,
        _SUFFIX_CUT_MIN,
    )

    assert _SUFFIX_CUT_MIN == 20
    big = [f"b{i}" for i in range(25)]
    small = [f"s{i}" for i in range(18)]
    texts = {
        0: ["x0", "x1"] + big + ["x2"],
        1: big + ["y0"],
        2: ["z0"] + small,
        3: small + ["z1"],
        4: [f"u{i}" for i in range(30)],
    }
    import tempfile, shutil, os
    tape = tempfile.mkdtemp(prefix="cut_docs_")
    try:
        spark.createDataFrame(
            [(k, " ".join(v)) for k, v in texts.items()],
            "doc_id long, text string",
        ).write.mode("overwrite").parquet(os.path.join(tape, "documents.parquet"))
        got = {
            r.doc_id: r for r in q_dedup_span_cut_suffix(spark, tape).collect()
        }
    finally:
        shutil.rmtree(tape, ignore_errors=True)
    kept_expected = {
        0: ["x0", "x1", "x2"],
        1: ["y0"],
        2: ["z0"] + small,
        3: small + ["z1"],
        4: texts[4],
    }
    for d, kept in kept_expected.items():
        row = got[d]
        assert row.n_tokens == len(texts[d])
        assert row.n_kept == len(kept), (d, row)
        assert row.n_cut == len(texts[d]) - len(kept)
        assert row.scrub_md5 == hashlib.md5(" ".join(kept).encode()).hexdigest()
    assert got[0].n_spans == 1 and got[1].n_spans == 1
    assert got[2].n_spans == 0 and got[4].n_spans == 0


def test_rank_partitions_scales_with_input():
    """Distributed-rank partition count: fixed floor at tested scales
    (27M tokens = the 100x point still gets 8, so SCALE rows stay
    representative), then ~4M rows per partition so per-task sort
    memory is flat three decades up."""
    assert SX.rank_partitions(270_704) == 8
    assert SX.rank_partitions(27_000_000) == 8
    assert SX.rank_partitions(270_000_000) == 68
    assert SX.rank_partitions(2_700_000_000) == 675


def test_suffix_span_progressive_path_matches_brute(spark):
    """The PROGRESSIVE path (distributed rank + per-level release +
    DISK_ONLY spill — the 100× code path, forced via the threshold)
    must produce the same exact spans as the python brute force, not
    just release its blocks."""
    df = load_table(spark, SF_SMOKE, "documents")
    want = _brute({r.doc_id: r.text.split(" ") for r in df.collect()})
    prev = SX.DISTRIBUTED_RANK_THRESHOLD
    SX.DISTRIBUTED_RANK_THRESHOLD = 0
    try:
        got = _run(spark, df)
    finally:
        SX.DISTRIBUTED_RANK_THRESHOLD = prev
    assert got == want


def test_decontaminate_cut_planted(spark):
    """decontaminate_cut semantics by construction (threshold 6): a
    10-token run shared with an EVAL doc is cut from the train doc; a
    5-token eval-shared run survives; a 12-token run shared only with
    ANOTHER TRAIN doc is NOT contamination and survives; eval docs are
    absent from the output; scrub md5 equals the expected kept text."""
    import hashlib

    from ohlc_spark_streaming_spark.queries.analytics import (
        _DECON_CUT_MIN,
        _DECON_EVAL_SOURCE,
        q_decontaminate_cut,
    )

    assert _DECON_CUT_MIN == 6
    hot = [f"h{i}" for i in range(10)]
    warm = [f"w{i}" for i in range(5)]
    twin = [f"t{i}" for i in range(12)]
    texts = {
        0: (["a0"] + hot + ["a1"], "train"),
        1: (warm + ["b0"], "train"),
        2: (["c0"] + twin, "train"),
        3: (twin + ["c1"], "train"),
        4: (hot + warm, _DECON_EVAL_SOURCE),
    }
    import os
    import shutil
    import tempfile

    tape = tempfile.mkdtemp(prefix="decon_docs_")
    try:
        spark.createDataFrame(
            [(k, " ".join(t), src) for k, (t, src) in texts.items()],
            "doc_id long, text string, source string",
        ).write.mode("overwrite").parquet(
            os.path.join(tape, "documents.parquet")
        )
        got = {r.doc_id: r for r in q_decontaminate_cut(spark, tape).collect()}
    finally:
        shutil.rmtree(tape, ignore_errors=True)
    assert set(got) == {0, 1, 2, 3}  # eval doc 4 absent
    kept_expected = {
        0: ["a0", "a1"],          # hot cut
        1: warm + ["b0"],         # below threshold
        2: ["c0"] + twin,         # train-train dup is not contamination
        3: twin + ["c1"],
    }
    for d, kept in kept_expected.items():
        row = got[d]
        assert row.n_tokens == len(texts[d][0])
        assert row.n_kept == len(kept), (d, row)
        assert row.scrub_md5 == hashlib.md5(" ".join(kept).encode()).hexdigest()
    assert got[0].n_spans == 1
    assert got[1].n_spans == 0 and got[2].n_spans == 0


def test_cross_contamination_progressive_path_matches_brute(spark):
    """The PROGRESSIVE cross-corpus path (distributed rank + distributed
    prefix sum + keep_sa retention + per-level release — the 100× code
    path, forced via the threshold) must equal the python brute force:
    the range-partition offset accumulation, the checkpointed prefix-sum
    frame, and the keep_sa release ordering are exactly the pieces the
    small-corpus window branch never exercises."""
    from .test_suffix_property import _brute_contam

    df = load_table(spark, SF_SMOKE, "documents")
    texts = {r.doc_id: r.text.split(" ") for r in df.collect()}
    evalset = {r.doc_id for r in df.where("source = 'src0'").collect()}
    want = _brute_contam(texts, evalset)
    prev = SX.DISTRIBUTED_RANK_THRESHOLD
    SX.DISTRIBUTED_RANK_THRESHOLD = 0
    try:
        got = {
            r.doc_id: (r.contam_span, r.n_at_max)
            for r in SX.cross_contamination_best(
                df, F.col("source") == "src0"
            ).collect()
        }
    finally:
        SX.DISTRIBUTED_RANK_THRESHOLD = prev
    assert got == want


def _mk_docs(spark, tmp_path, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _spans(spark, sf_dir):
    out = registry.QUERIES["dedup_span_pow2"](spark, sf_dir).collect()
    return {r.doc_id: (r.span_pow2, r.n_dup_at_max) for r in out}


def test_span_pow2_planted(tmp_path, spark):
    """Known-by-construction answers: a 40-token run shared across two
    docs yields span 32 in both (a 32-window fits in the run, no
    64-window repeats); a 16-token phrase repeated WITHIN one doc yields
    16 (self-repeats count); an all-unique-token doc yields 0."""
    shared = [f"s{i}" for i in range(40)]
    doc_a = [f"a{i}" for i in range(15)] + shared + [f"z{i}" for i in range(15)]
    doc_b = [f"b{i}" for i in range(10)] + shared + [f"y{i}" for i in range(10)]
    phrase = [f"p{i}" for i in range(16)]
    doc_c = phrase + ["sep0"] + phrase
    doc_d = [f"u{i}" for i in range(30)]
    sf = _mk_docs(
        spark,
        tmp_path,
        [" ".join(doc_a), " ".join(doc_b), " ".join(doc_c), " ".join(doc_d)],
    )
    spans = _spans(spark, sf)
    assert spans[0][0] == 32 and spans[1][0] == 32
    # doc_a has 40-32+1 = 9 duplicated 32-windows (all inside the run)
    assert spans[0][1] == 9 and spans[1][1] == 9
    assert spans[2][0] == 16
    assert spans[3] == (0, 0)


def test_span_pow2_exact_copy_caps_at_doc_length(tmp_path, spark):
    """Verbatim duplicate docs: span equals the largest level ≤ length;
    a copy flood (3 identical docs) leaves the per-doc answer unchanged
    (duplication COUNTS rise only at level boundaries — n_dup is the
    window count, invariant to how many copies exist)."""
    text = " ".join(f"t{i}" for i in range(70))
    sf = _mk_docs(spark, tmp_path, [text, text, text])
    spans = _spans(spark, sf)
    # 70 tokens ≥ 64: whole-doc 64-windows are duplicated across copies
    assert all(v[0] == 64 for v in spans.values())
    assert all(v[1] == 70 - 64 + 1 for v in spans.values())


def test_suffix_rank_pairing_matches_join_form(spark):
    """lead(r, d) over (doc, pos) equals the old (doc, pos+d) self-join
    with -1 fill — positions are dense 1..len per document."""
    from ohlc_spark_streaming_spark.operators.suffix import (
        global_dense_rank,
        suffix_rank_tables,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "b a b"), (3, "c")],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    tables = suffix_rank_tables(toks, 5)

    # Reference: the old join pairing, one doubling step from level 1.
    r1 = tables[0].df
    nxt = r1.select(
        F.col("doc_id").alias("n_doc"),
        F.col("pos").alias("n_pos"),
        F.col("r").alias("n_r"),
    )
    paired_ref = r1.join(
        nxt,
        (F.col("doc_id") == F.col("n_doc"))
        & (F.col("pos") + F.lit(1) == F.col("n_pos")),
        "left",
    ).select(
        "doc_id",
        "pos",
        F.col("r").alias("r1"),
        F.coalesce(F.col("n_r"), F.lit(-1)).alias("r2"),
    )
    ref2 = global_dense_rank(paired_ref, ["r1", "r2"]).select(
        "doc_id", "pos", F.col("gr").alias("r")
    )
    got = {
        (r["doc_id"], r["pos"]): r["r"] for r in tables[1].df.collect()
    }
    want = {(r["doc_id"], r["pos"]): r["r"] for r in ref2.collect()}
    assert got == want
