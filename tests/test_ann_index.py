"""ANN index pins: residual-encoded IVF-PQ (FAISS IVFADC's default
encoding) and the index lifecycle (train offline → persist → append
deltas → compact → serve frozen), the ADC-shortlist exact re-rank
(FAISS IndexRefineFlat shape) and its recall lift, filtered search,
embedding whitening and k-means, and the bitwise pins of the narrow
argmin cell assignment (coarse cells, Lloyd training) against their
relational reference forms. Cross-engine equivalence is covered by the
registry oracle sweep (test_registry_oracle.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.functions.vectorops import as_double_array, sqdist
from ohlc_spark_streaming_spark.operators import similarity as sim_ops
from ohlc_spark_streaming_spark.operators.similarity import (
    ann_index_search,
    ann_index_search_refined,
    encode_into_index,
    ivf_pq_residual_topk,
    ivf_pq_trained_topk,
    read_ann_index,
    train_ann_index,
    write_ann_index,
)
from ohlc_spark_streaming_spark.queries.ann_oracles import _RES_ITERS
from ohlc_spark_streaming_spark.registry import QUERIES
from ohlc_spark_streaming_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def _topk_sets(df, k=5):
    out: dict = {}
    for r in df.where(F.col("rank") <= k).collect():
        out.setdefault(r.query_id, set()).add(r.vec_id)
    return out


def _mean_recall(exact, approx):
    rs = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    return sum(rs) / len(rs)


def _queries(emb, n=10):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
    )


@pytest.fixture(scope="module")
def vecs(spark):
    import random

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    # Duplicate a few vectors so assignment ties are exercised.
    rows += [(100 + i, list(rows[i][1])) for i in range(4)]
    return spark.createDataFrame(rows, "vec_id long, _e array<double>")


def _cells_reference(d, cents, nprobe):
    """The pre-round-13 relational assignment: crossJoin(broadcast) +
    struct-min groupBy (nprobe=1) / row_number window (nprobe>1)."""
    dists = d.crossJoin(F.broadcast(cents)).select(
        "vec_id", "_ccid", sqdist(F.col("_e"), F.col("_cv")).alias("_d")
    )
    if nprobe <= 1:
        return dists.groupBy("vec_id").agg(
            F.min(F.struct(F.col("_d").alias("d"), F.col("_ccid").alias("c")))
            .getField("c")
            .alias("cell")
        ).withColumn("probe", F.lit(1))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_d").asc(), F.col("_ccid").asc()
    )
    return (
        dists.withColumn("probe", F.row_number().over(w))
        .where(F.col("probe") <= nprobe)
        .select("vec_id", F.col("_ccid").alias("cell"), "probe")
    )


def test_residual_recall_beats_trained_raw(spark):
    """VERDICT r11 item 1's Done condition: residual encoding lifts
    recall@5 over trained-raw AT EQUAL COST (same iters, same nprobe),
    and over the registered trained-raw config (iters=2). Everything is
    a deterministic computation on fixed data, so the measured recalls
    are exact: residual(3)=0.34 vs raw(3)=0.26 and raw(2)=0.30 at
    sf0.001 (the registered _RES_ITERS=3 is itself a measured choice —
    residual needs the coarse quantizer settled before the residual
    distribution is worth fitting; at iters=2 residual is 0.24)."""
    from .test_ann_recall import _exact_l2_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = _exact_l2_topk(spark, k=5)
    res = _mean_recall(
        exact,
        _topk_sets(ivf_pq_residual_topk(emb, k=5, iters=_RES_ITERS, nprobe=2)),
    )
    raw_equal = _mean_recall(
        exact,
        _topk_sets(ivf_pq_trained_topk(emb, k=5, iters=_RES_ITERS, nprobe=2)),
    )
    raw_registered = _mean_recall(
        exact, _topk_sets(ivf_pq_trained_topk(emb, k=5, iters=2, nprobe=2))
    )
    assert res >= raw_equal, (res, raw_equal)
    assert res >= raw_registered, (res, raw_registered)
    assert res >= 0.30  # well above the untrained 0.20 and chance 0.01


def test_index_append_equals_rebuild_encode(spark):
    """The two-phase lifecycle pin (VERDICT r11 item 2): encoding the
    appended slice against a FROZEN base-trained index produces exactly
    the rows a from-scratch frozen encode of the full corpus produces
    for that slice — cells and codes table-for-table, and search over
    the grown index equals search over the rebuild-encoded one."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.where(F.col("vec_id") % 10 < 8)
    appended = emb.where(F.col("vec_id") % 10 >= 8)
    assert appended.count() > 0

    index = train_ann_index(base, iters=_RES_ITERS)
    new_cells, new_codes = encode_into_index(appended, index)

    # Rebuild-encode: the FULL corpus against the same frozen tables.
    all_cells, all_codes = encode_into_index(emb, index)
    want_cells = set(
        map(tuple, all_cells.where(F.col("vec_id") % 10 >= 8).collect())
    )
    want_codes = set(
        map(tuple, all_codes.where(F.col("vec_id") % 10 >= 8).collect())
    )
    assert set(map(tuple, new_cells.collect())) == want_cells
    assert set(map(tuple, new_codes.collect())) == want_codes
    # The base slice of the rebuild-encode equals the trained index's own
    # tables (assignment/encoding are deterministic functions).
    assert set(
        map(tuple, all_cells.where(F.col("vec_id") % 10 < 8).collect())
    ) == set(map(tuple, index["cells"].collect()))

    grown = {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        "cells": index["cells"].unionByName(new_cells),
        "codes": index["codes"].unionByName(new_codes),
    }
    rebuilt = {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        "cells": all_cells,
        "codes": all_codes,
    }
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
    )
    got = set(map(tuple, ann_index_search(q, grown, nprobe=2, k=5).collect()))
    want = set(
        map(tuple, ann_index_search(q, rebuilt, nprobe=2, k=5).collect())
    )
    assert got == want and len(got) > 0


def test_semantic_dedup_matches_brute_force(spark):
    """dedup_semantic_cells semantics vs a Python brute force at
    sf0.001 (VERDICT r11 item 7's Done condition): collect every
    vector's trained-cell assignment, compute all within-cell cosines
    in numpy-free pure Python, apply the greedy lowest-id rule, and
    demand the operator's kept/dropped verdicts match exactly. Also
    pins duplication-invariance: running on the corpus with every
    vector duplicated (id + 10_000) keeps verdicts for the original
    ids unchanged and drops every copy (its original is a lower id at
    cosine 1)."""
    import math

    from ohlc_spark_streaming_spark.operators.similarity import (
        semantic_dedup_cells,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = semantic_dedup_cells(emb, n_cells=8, iters=2, threshold=0.25)
    got = {r.vec_id: (r.cell, r.kept) for r in out.collect()}

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    by_cell: dict = {}
    for vid, (cell, _) in got.items():
        by_cell.setdefault(cell, []).append(vid)
    want_kept = {}
    for cell, ids in by_cell.items():
        for vid in ids:
            want_kept[vid] = not any(
                o < vid and cos(vecs[vid], vecs[o]) >= 0.25 for o in ids
            )
    assert {v: k for v, (_, k) in got.items()} == want_kept
    n_dropped = sum(1 for _, k in got.values() if not k)
    assert 0 < n_dropped < len(got)  # the threshold actually bites

    dup = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + 10_000)
    )
    out2 = {
        r.vec_id: r.kept
        for r in semantic_dedup_cells(
            dup, n_cells=8, iters=2, threshold=0.25
        ).collect()
    }
    # Copies never survive; original verdicts unchanged (training on the
    # duplicated corpus yields the same centroids: doubled members scale
    # numerator and denominator of every mean equally).
    assert all(not out2[v + 10_000] for v in got)
    assert {v: out2[v] for v in got} == {v: k for v, (_, k) in got.items()}


def test_streaming_ann_serve_multibatch_equals_batch(spark, tmp_path):
    """The serving-tier pin (VERDICT r11 item 8): a query tape split
    into THREE real micro-batches, served against a frozen residual
    index, returns row-for-row what the batch trained search returns
    over the same corpus — per-batch finals against a static index ARE
    the global answer, regardless of arrival batching."""
    import os

    from ohlc_spark_streaming_spark.queries.streaming import fold_ann_serve

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = train_ann_index(emb, iters=_RES_ITERS)

    q = emb.where(F.col("vec_id") < 10)
    tape_dir = str(tmp_path / "qtape")
    # vec_id % 3 buckets split the 10 queries across 3 files = 3 batches.
    q.withColumn("part", F.col("vec_id") % 3).repartitionByRange(
        3, "part"
    ).drop("part").write.mode("overwrite").parquet(tape_dir)
    n_files = len(
        [f for f in os.listdir(tape_dir) if f.endswith(".parquet")]
    )
    assert n_files == 3, n_files
    stream = (
        spark.readStream.schema(q.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tape_dir)
    )
    got = set(map(tuple, fold_ann_serve(stream, index, nprobe=2, k=5).collect()))
    want = set(
        map(
            tuple,
            ivf_pq_residual_topk(
                emb, k=5, iters=_RES_ITERS, nprobe=2, index=index
            ).collect(),
        )
    )
    assert got == want and len(got) == 50


def test_staleness_audit_shows_retrain_signal(spark):
    """ann_index_staleness vs ann_recall_residual on the same corpus:
    the stale (base-trained, append-grown) index recalls strictly less
    than the retrained index at sf0.001 (0.22 vs 0.34 — deterministic
    computations on fixed data, so the gap is exact). This is the
    retrain-scheduling signal the audit exists to expose; it is an
    empirical property of THIS corpus/split, not a theorem, which is
    why it lives here as a measured pin rather than in the operator's
    contract."""
    from ohlc_spark_streaming_spark.registry import QUERIES

    stale = {
        r.query_id: r.recall
        for r in QUERIES["ann_index_staleness"](spark, SF_SMOKE).collect()
    }
    fresh = {
        r.query_id: r.recall
        for r in QUERIES["ann_recall_residual"](spark, SF_SMOKE).collect()
    }
    assert set(stale) == set(fresh) and len(stale) == 10
    mean_stale = sum(stale.values()) / len(stale)
    mean_fresh = sum(fresh.values()) / len(fresh)
    assert mean_stale < mean_fresh, (mean_stale, mean_fresh)
    assert mean_stale > 0.05  # the stale index still retrieves


def test_cell_balanced_sample_quota_and_selection(spark):
    """sample_cell_balanced semantics vs a Python recompute: per cell
    the output is exactly the ``quota`` lowest (md5(id), id) keys of
    that cell's members (or all of them if fewer), ranks 1..n dense —
    the deterministic selection, not just the counts. Cell assignments
    are taken from the operator's sibling (dedup_semantic_cells runs
    the identical lloyd_train/_coarse_cells chain at iters=2), so the
    recompute checks the sampler against an independently oracle-
    checked clustering."""
    import hashlib

    from ohlc_spark_streaming_spark.operators.similarity import (
        cell_balanced_sample,
    )
    from ohlc_spark_streaming_spark.registry import QUERIES

    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = [
        (r.vec_id, r.cell, r.cell_rank, r.sample_key)
        for r in cell_balanced_sample(
            emb, n_cells=8, iters=2, quota=32
        ).collect()
    ]
    cells = {
        r.vec_id: r.cell
        for r in QUERIES["dedup_semantic_cells"](spark, SF_SMOKE).collect()
    }
    by_cell: dict = {}
    for vid, cell in cells.items():
        key = hashlib.md5(str(vid).encode()).hexdigest()
        by_cell.setdefault(cell, []).append((key, vid))
    want = set()
    for cell, members in by_cell.items():
        for rk, (key, vid) in enumerate(sorted(members)[:32], start=1):
            want.add((vid, cell, rk, key))
    assert set(got) == want and len(got) > 0
    # Quota binds: no cell exceeds 32, and full cells hit exactly 32.
    per_cell: dict = {}
    for _, cell, _, _ in got:
        per_cell[cell] = per_cell.get(cell, 0) + 1
    assert all(n <= 32 for n in per_cell.values())
    assert {c: min(len(m), 32) for c, m in by_cell.items()} == per_cell


def test_index_persist_roundtrip_bitwise(spark, tmp_path):
    """Parquet persistence is invisible to search: a written+loaded
    index returns row-for-row (adc_units bitwise) what the in-memory
    index returns — train offline / serve frozen is lossless."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = train_ann_index(emb, iters=_RES_ITERS)
    write_ann_index(index, str(tmp_path / "annidx"))
    loaded = read_ann_index(spark, str(tmp_path / "annidx"))
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
    )
    got = set(map(tuple, ann_index_search(q, loaded, nprobe=2, k=5).collect()))
    want = set(map(tuple, ann_index_search(q, index, nprobe=2, k=5).collect()))
    assert got == want and len(got) == 50


def test_refine_lifts_recall_over_residual(spark):
    """VERDICT r12 item 2's Done condition: the exact re-rank of the
    ADC top-4k shortlist lifts recall@5 over the plain residual index.
    Deterministic computation on fixed data, so the measured recalls
    are exact: refine 0.64 vs residual 0.34 at sf0.001 (0.72 vs 0.34
    at sf0.01 — the oracle-checked pair ann_recall_refine /
    ann_recall_residual)."""
    from .test_ann_recall import _exact_l2_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = _exact_l2_topk(spark, k=5)
    index = train_ann_index(emb, iters=_RES_ITERS)
    q = _queries(emb)
    residual = _mean_recall(
        exact, _topk_sets(ann_index_search(q, index, nprobe=2, k=5))
    )
    refined = _mean_recall(
        exact,
        _topk_sets(
            ann_index_search_refined(
                q, index, emb, nprobe=2, k=5, refine_factor=4
            )
        ),
    )
    assert residual == 0.34
    # mean of ten exact per-query ratios; the division makes the mean
    # itself inexact (0.6399999999999999), so pin to the rounded value
    assert round(refined, 10) == 0.64
    assert refined > residual


def test_refine_subset_of_shortlist_and_exact_order(spark):
    """The refined top-k is drawn from the ADC shortlist (refine never
    invents candidates) and is ordered by exact squared-L2 units
    (strictly non-decreasing within each query, ties to smaller
    vec_id)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = train_ann_index(emb, iters=_RES_ITERS)
    q = _queries(emb)
    shortlist = {
        (r.query_id, r.vec_id)
        for r in ann_index_search(q, index, nprobe=2, k=20).collect()
    }
    rows = ann_index_search_refined(
        q, index, emb, nprobe=2, k=5, refine_factor=4
    ).collect()
    assert rows and all((r.query_id, r.vec_id) in shortlist for r in rows)
    by_q: dict = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append((r.exact_units, r.vec_id))
    for seq in by_q.values():
        assert seq == sorted(seq)


def test_ann_index_compaction_physical_and_bitwise(spark, tmp_path):
    """VERDICT r12 item 7's Done condition, physically: the codes table
    accumulates one parquet fragment per append (write base, append
    delta -> >= 2 data files); compact_ann_index rewrites it into
    EXACTLY one file per planned bin with whole cells per bin; and the
    compacted index serves searches bitwise-equal to the un-compacted
    one."""
    import glob as _glob

    from ohlc_spark_streaming_spark.operators.similarity import (
        ann_compaction_plan,
        compact_ann_index,
        encode_into_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.where(F.col("vec_id") % 10 < 8)
    delta = emb.where(F.col("vec_id") % 10 >= 8)
    index = train_ann_index(base, iters=_RES_ITERS)
    d_cells, d_codes = encode_into_index(delta, index)

    frag = str(tmp_path / "codes_frags")
    index["codes"].write.mode("overwrite").parquet(frag)
    d_codes.write.mode("append").parquet(frag)
    frags = _glob.glob(f"{frag}/part-*.parquet")
    assert len(frags) >= 2, frags  # the append really fragmented

    grown = {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        "cells": index["cells"].unionByName(d_cells),
        "codes": spark.read.parquet(frag),
    }
    compacted = compact_ann_index(
        spark, grown, str(tmp_path / "opt"), target_rows=1024
    )
    plan = {
        r.cell: r.file_bin
        for r in ann_compaction_plan(grown, target_rows=1024).collect()
    }
    n_bins = len(set(plan.values()))
    assert n_bins >= 2, plan  # the plan is not degenerate
    for b in set(plan.values()):
        files = _glob.glob(
            str(tmp_path / "opt" / "codes_compact" / f"file_bin={b}")
            + "/part-*.parquet"
        )
        assert len(files) == 1, (b, files)  # one packed file per bin

    q = _queries(emb)
    pre = sorted(
        map(tuple, ann_index_search(q, grown, nprobe=2, k=5).collect())
    )
    post = sorted(
        map(tuple, ann_index_search(q, compacted, nprobe=2, k=5).collect())
    )
    assert pre == post  # read-equivalence, bitwise


def test_streaming_ann_serve_refined_multibatch_equals_batch(
    spark, tmp_path
):
    """The refined serving-tier pin: a query tape split into THREE real
    micro-batches, served against a frozen residual index WITH the
    exact re-rank (fold_ann_serve_refined), returns row-for-row what
    the batch refined search returns over the same corpus — the
    IndexRefineFlat tier, like the base tier, is arrival-batching
    invariant because every batch re-ranks against the full static
    corpus."""
    import os

    from ohlc_spark_streaming_spark.queries.streaming import (
        fold_ann_serve_refined,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = train_ann_index(emb, iters=_RES_ITERS)

    q = emb.where(F.col("vec_id") < 10)
    tape_dir = str(tmp_path / "qtape")
    q.withColumn("part", F.col("vec_id") % 3).repartitionByRange(
        3, "part"
    ).drop("part").write.mode("overwrite").parquet(tape_dir)
    n_files = len(
        [f for f in os.listdir(tape_dir) if f.endswith(".parquet")]
    )
    assert n_files == 3, n_files
    stream = (
        spark.readStream.schema(q.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tape_dir)
    )
    got = set(
        map(
            tuple,
            fold_ann_serve_refined(
                stream, index, emb, nprobe=2, k=5, refine_factor=4
            ).collect(),
        )
    )
    want = set(
        map(
            tuple,
            ann_index_search_refined(
                _queries(emb), index, emb, nprobe=2, k=5, refine_factor=4
            ).collect(),
        )
    )
    assert got == want and len(got) == 50


def test_filtered_search_prefilters_not_postfilters(spark):
    """Filtered ANN pin: (a) every returned candidate's label equals
    its query's label; (b) ranks are dense 1..k per query — the filter
    ran BEFORE the top-k cut (pre-filtering), so the k slots are all
    filter-survivors; (c) the result is NOT the post-hoc filter of the
    unfiltered top-k — post-filtering under-fills whenever an
    unfiltered slot went to a wrong-label neighbor, which is the
    precise mistake the operator exists to avoid."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = train_ann_index(emb, iters=_RES_ITERS)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
        F.col("label").alias("_qattr"),
    )
    filt = ann_index_search(
        q, index, nprobe=2, k=5, attrs=emb.select("vec_id", "label")
    ).collect()
    by_q: dict[int, list] = {}
    for r in filt:
        assert labels[r.vec_id] == labels[r.query_id]
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    unfiltered = ann_index_search(_queries(emb), index, nprobe=2, k=5).collect()
    post = {
        (r.query_id, r.vec_id)
        for r in unfiltered
        if labels[r.vec_id] == labels[r.query_id]
    }
    pre = {(r.query_id, r.vec_id) for r in filt}
    # post-filtering keeps only same-label survivors of the unfiltered
    # top-k: a strict subset here (under-filled queries exist)
    assert post < pre


@pytest.mark.parametrize("nprobe", [1, 2, 3])
def test_coarse_cells_matches_relational_reference(spark, vecs, nprobe):
    cents = vecs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("_ccid"), F.col("_e").alias("_cv")
    )
    got = {
        (r["vec_id"], r["probe"]): r["cell"]
        for r in sim_ops._coarse_cells(
            vecs, "vec_id", 5, vec_alias="_e", cents=cents, nprobe=nprobe
        ).collect()
    }
    want = {
        (r["vec_id"], r["probe"]): r["cell"]
        for r in _cells_reference(vecs, cents, nprobe).collect()
    }
    assert got == want


def test_lloyd_train_matches_relational_reference(spark, vecs):
    """The one-row-broadcast Lloyd loop equals the old join-based
    iteration bitwise (same struct-min assignment, same exact
    integer-unit means, same emptied-centroid guard)."""
    got = {
        r["_ccid"]: list(r["_cv"])
        for r in sim_ops.lloyd_train(vecs, "vec_id", "_e", 4, 3).collect()
    }

    # Reference: the pre-round-13 relational iteration, verbatim shape.
    cents = vecs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("_ccid"), F.col("_e").alias("_cv")
    )
    for _ in range(3):
        cells = (
            vecs.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "_ccid",
                sqdist(F.col("_e"), F.col("_cv")).alias("_d"),
            )
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(F.col("_d").alias("d"), F.col("_ccid").alias("c"))
                )
                .getField("c")
                .alias("_cell")
            )
        )
        comp = vecs.join(cells, "vec_id").select(
            "_cell", F.posexplode("_e").alias("_p", "_x")
        )
        ux = F.floor(F.col("_x") * F.lit(1.0e12) + F.lit(0.5)).cast(
            "decimal(38,0)"
        )
        upd = (
            comp.groupBy("_cell", "_p")
            .agg(F.count(F.lit(1)).alias("_n"), F.sum(ux).alias("_sx"))
            .select(
                "_cell",
                "_p",
                (
                    F.col("_sx").cast("double") / F.lit(1.0e12) / F.col("_n")
                ).alias("_nc"),
            )
        )
        newc = upd.groupBy("_cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_nc"))),
                lambda s: s["_nc"],
            ).alias("_nv")
        )
        cents = cents.join(
            newc.withColumnRenamed("_cell", "_ccid"), ["_ccid"], "left"
        ).select(
            "_ccid", F.coalesce(F.col("_nv"), F.col("_cv")).alias("_cv")
        )
        cents = spark.createDataFrame(
            cents.collect(), schema="_ccid long, _cv array<double>"
        )
    want = {r["_ccid"]: list(r["_cv"]) for r in cents.collect()}
    assert got == want  # bitwise: same floats, not approx


