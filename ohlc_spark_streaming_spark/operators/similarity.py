"""Similarity search over embedding columns (SURVEY.md §2.11).

* :func:`cosine_topk` — exact brute force: broadcast the (bounded) query
  set against the corpus, sequential-fold cosine, per-query top-k via
  row_number. O(N·Q·D) but embarrassingly parallel and shuffle-free until
  the final per-query top-k (which is partial-aggregated per partition).
* :func:`lsh_cosine_topk` — random-hyperplane LSH: each vector gets a
  sign-bucket from ``n_planes`` fixed ±1 hyperplanes; candidates are
  corpus vectors sharing the query's bucket; exact cosine re-ranks the
  candidates. At 100 TB the bucket equi-join replaces the cross join —
  cost drops to O(N·planes·D) hashing + per-bucket work.

The hyperplanes are deterministic ±1 vectors generated from a fixed LCG
seed in Python and inlined as literals into BOTH the Spark plan and the
DuckDB oracle SQL, so even the approximate path is value-hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectorops import as_double_array, cosine, dot
from ..session import scoped_confs

N_PLANES = 8
_LCG_M = 2**31
_LCG_A = 1103515245
_LCG_C = 12345


def hyperplanes(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from a fixed LCG (shared with oracle)."""
    state = 20240101
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (_LCG_A * state + _LCG_C) % _LCG_M
            row.append(1.0 if (state >> 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _bucket_expr(vec_col, planes: list[list[float]]):
    """Sign-pattern bucket id: bit j set iff plane_j · v > 0."""
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(w) for w in plane])
        d = dot(F.col(vec_col) if isinstance(vec_col, str) else vec_col, plane_lit)
        bucket = bucket + F.when(d > 0, F.lit(2**j)).otherwise(F.lit(0))
    return bucket.cast("long")


# ---------------------------------------------------------------------
# Round-13 optimization (guide §2.4 "remove shuffles outright", §1.2):
# nearest-centroid ASSIGNMENT as a narrow expression over a ONE-ROW
# broadcast of the centroid set, instead of crossJoin(broadcast) →
# groupBy(id) struct-min → corpus-sized re-join. The centroid set is
# O(k·dim) driver state by the training contract (lloyd_train already
# collects it every iteration); shipping it as the single row of a
# broadcast relation keeps the VALUES out of the plan (a literal
# encoding was measured 2× slower: every Lloyd iteration changes the
# centroid values, so value-bearing plans miss the whole-stage-codegen
# cache and recompile ~0.5–1 s per job; value-free plans are identical
# across iterations/queries and hit it). Assignment semantics are
# unchanged bitwise: array_min over struct(d, c) is the same total
# order / smallest-id tie-break as the relational min(struct(d, c)).
# ---------------------------------------------------------------------

_CENTS_SCHEMA = "_cents array<struct<_ccid: bigint, _cv: array<double>>>"
_BOOK_SCHEMA = "_book array<struct<s: int, _cid: bigint, cv: array<double>>>"


def _training_set(d: DataFrame) -> DataFrame:
    """Materialize a trainer's projected input once per query — the
    MLlib-kmeans idiom (its Lloyd loop caches the norm-augmented input
    before iterating): the iterative trainer re-reads this frame
    ``iters``+2 times, so paying one materialization beats re-running
    the scan/projection chain per iteration. Fans out to the session
    parallelism first when the source has fewer splits (the bench's
    single-row-group files would otherwise serialize every per-row
    argmin on one core); at real scale the scan is already wider and
    the fan-out is skipped."""
    from ..session import default_parallelism

    target = default_parallelism()
    if d.rdd.getNumPartitions() < target:
        d = d.repartition(target)
    return d.localCheckpoint(eager=True)


def _collect_cents(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a (_ccid, _cv) centroid relation to the driver, sorted by
    id (bounded by the O(k·dim) training contract)."""
    return sorted(
        (r["_ccid"], list(r["_cv"]))
        for r in cents.select("_ccid", "_cv").collect()
    )


def _with_cents(d: DataFrame, rows: list[tuple[int, list[float]]]) -> DataFrame:
    """Attach the centroid set to every row of ``d`` as ``_cents`` via a
    one-row broadcast (BroadcastNestedLoopJoin of a bounded single row —
    narrow, no shuffle; the lint-sanctioned 1-row-broadcast shape)."""
    one = d.sparkSession.createDataFrame(
        [([(int(i), list(v)) for i, v in rows],)], _CENTS_SCHEMA
    )
    return d.crossJoin(F.broadcast(one))


def _nearest_entry(vec, cents_col=None):
    """``min(struct(d, c))`` over the attached ``_cents`` — identical
    total-order/tie-break (smallest centroid id on equal distance) to
    the relational struct-min assignment. ``.getField("c")`` is the
    cell; ``.getField("d")`` the squared distance."""
    from ..functions.vectorops import sqdist

    col = F.col("_cents") if cents_col is None else cents_col
    return F.array_min(
        F.transform(
            col,
            lambda c: F.struct(
                sqdist(vec, c["_cv"]).alias("d"), c["_ccid"].alias("c")
            ),
        )
    )


def _nearest_entries(vec, nprobe: int, cents_col=None):
    """The ``nprobe`` nearest cells, ascending by (distance, centroid
    id), as array<struct<d,c>> — array_sort uses the same struct
    ordering as the nprobe>1 row_number ranking it replaces."""
    from ..functions.vectorops import sqdist

    col = F.col("_cents") if cents_col is None else cents_col
    return F.slice(
        F.array_sort(
            F.transform(
                col,
                lambda c: F.struct(
                    sqdist(vec, c["_cv"]).alias("d"), c["_ccid"].alias("c")
                ),
            )
        ),
        1,
        nprobe,
    )


def _cent_lookup(cell_col, cents_col=None):
    """centroid(cell) from the attached ``_cents`` — the residual path's
    centroid fetch without a join (map lookup over the bounded set)."""
    col = F.col("_cents") if cents_col is None else cents_col
    return F.element_at(
        F.map_from_entries(
            F.transform(
                col, lambda c: F.struct(c["_ccid"].alias("k"), c["_cv"].alias("v"))
            )
        ),
        cell_col,
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded when
    ids collide). Output: query_id, vec_id, cos_sim, rank."""
    c = corpus.select(
        F.col(id_col), as_double_array(vec_col).alias("_v")
    )
    q = queries.select(
        F.col(query_id_col), as_double_array(vec_col).alias("_q")
    )
    pairs = c.crossJoin(F.broadcast(q)).where(F.col(id_col) != F.col(query_id_col))
    scored = pairs.select(
        query_id_col,
        id_col,
        cosine(F.col("_v"), F.col("_q")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Approximate top-k: exact cosine re-ranking within the query's LSH
    bucket. Recall is tunable via n_planes (fewer planes → bigger buckets).

    Output: query_id, vec_id, cos_sim, rank — deterministic because the
    planes are fixed literals and ties break on vec_id.
    """
    planes = hyperplanes(dim, n_planes)
    c = corpus.select(F.col(id_col), as_double_array(vec_col).alias("_v")).withColumn(
        "bucket", _bucket_expr("_v", planes)
    )
    q = queries.select(
        F.col(query_id_col), as_double_array(vec_col).alias("_q")
    ).withColumn("bucket", _bucket_expr("_q", planes))

    pairs = c.join(F.broadcast(q), "bucket").where(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = pairs.select(
        query_id_col, id_col, cosine(F.col("_v"), F.col("_q")).alias("cos_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.99,
) -> DataFrame:
    """Near-duplicate vector pairs by cosine ≥ threshold, blocked to keep
    the pair space bounded (block membership is part of the semantics).

    Duplication-invariant (round 4 — SCALE.md caught the unguarded
    version at 101x on the 10x-duplication corpus): identical vectors
    collapse to ONE representative per (block, vector) before the
    pairwise join, so k copies of a vector cost one cosine, not k² —
    the same distinct-content collapse as operators/dedup.py
    ``_set_groups``. Representative pairs expand back to id pairs by an
    output-bound members join; expanded pairs inherit the rep cosine
    bitwise (identical arrays ⇒ identical fold), and within-group pairs
    carry ``cosine(v, v)`` computed once per group — the exact
    expression value, never a ``lit(1.0)`` shortcut the oracle would
    disagree with in the last ulp."""
    blk = [block_col] if block_col else []
    base = embeddings.select(
        F.col(id_col),
        *[F.col(c) for c in blk],
        as_double_array(vec_col).alias("_v"),
    )
    groups = (
        base.groupBy(*blk, "_v")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_members"))
        .withColumn("_rep", F.col("_members")[0])
    )

    a = groups.select(
        *[F.col(c).alias(f"_blk_{c}") for c in blk],
        F.col("_rep").alias("_rep_a"),
        F.col("_v").alias("_va"),
        F.col("_members").alias("_ma"),
    )
    b = groups.select(
        *[F.col(c).alias(f"_blk_{c}") for c in blk],
        F.col("_rep").alias("_rep_b"),
        F.col("_v").alias("_vb"),
        F.col("_members").alias("_mb"),
    )
    joined = (
        a.join(b, [f"_blk_{c}" for c in blk])
        if block_col
        else a.crossJoin(b)
    )
    cross = (
        joined.where(F.col("_rep_a") < F.col("_rep_b"))
        .select(
            "_ma", "_mb", cosine(F.col("_va"), F.col("_vb")).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= threshold)
        .select(F.explode("_ma").alias("_ia"), "_mb", "cos_sim")
        .select("_ia", F.explode("_mb").alias("_ib"), "cos_sim")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "cos_sim",
        )
    )
    within = (
        groups.where(F.size("_members") >= 2)
        .select(
            "_members",
            cosine(F.col("_v"), F.col("_v")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .select(F.posexplode("_members").alias("_i", "_ia"), "_members", "cos_sim")
        .select(
            F.col("_ia").alias("id_a"),
            F.explode(
                F.slice(F.col("_members"), F.col("_i") + 2, F.size("_members"))
            ).alias("id_b"),
            "cos_sim",
        )
    )
    return cross.unionByName(within)


def _coarse_cells(
    d: DataFrame,
    id_col: str,
    n_cells: int,
    vec_alias: str = "_v",
    cents: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """ONE definition of the IVF coarse half (shared by
    :func:`ivf_cosine_topk`, :func:`ivf_pq_topk`, the trained variant,
    and the composition-exactness rebuild in tests/test_ann_recall.py —
    round-10 ADVICE: the fine half was shared via :func:`_pq_codes_lut`
    but the coarse assignment was copy-pasted, so a tie-break change in
    one copy would silently break the composition pin).

    ``d`` is (id_col, <vec_alias>: array<double>); ``cents`` overrides
    the training-free codebook (the first ``n_cells`` corpus vectors)
    with (``_ccid``, ``_cv``) trained centroids. Assignment is argmin
    squared-L2 with ties to the smallest centroid id via the struct-min
    discipline; ``nprobe > 1`` returns the nearest ``nprobe`` cells per
    vector (rank ascending by (distance, centroid id)) — row ``probe``
    numbers them 1..nprobe so callers can keep probe-1 as THE cell.
    Output: (id_col, cell, probe).

    Round-13 optimization (guide §2.4): assignment is a narrow
    expression over a one-row broadcast of the centroid set — ZERO
    shuffles instead of crossJoin(broadcast) → groupBy(id) (one full
    corpus shuffle) or the nprobe row_number window (another).
    Assignment is bitwise identical (same struct-min ordering — see
    :func:`_nearest_entry`)."""
    if cents is None:
        cents = d.where(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("_ccid"), F.col(vec_alias).alias("_cv")
        )
    dd = _with_cents(d, _collect_cents(cents))
    vec = F.col(vec_alias)
    if nprobe <= 1:
        return dd.select(
            id_col,
            _nearest_entry(vec).getField("c").alias("cell"),
            F.lit(1).alias("probe"),
        )
    return (
        dd.select(id_col, _nearest_entries(vec, nprobe).alias("_ns"))
        .select(id_col, F.posexplode("_ns").alias("_i", "_s"))
        .select(
            id_col,
            F.col("_s.c").alias("cell"),
            (F.col("_i") + 1).cast("int").alias("probe"),
        )
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """IVF-style ANN: coarse quantization into inverted lists + exact
    re-rank inside the probed cell (nprobe=1).

    The coarse centroids are the first ``n_cells`` corpus vectors (a
    deterministic, training-free quantizer — :func:`ivf_pq_trained_topk`
    swaps in Lloyd-trained centroids; every downstream step is
    unchanged). Assignment is argmin squared-L2 with ties broken by
    centroid id, computed relationally: corpus x broadcast(centroids)
    -> struct-min (:func:`_coarse_cells`). At 100 TB the cell equi-join
    replaces the brute-force cross join exactly like the hyperplane-LSH
    path, but with data-adaptive cells.

    Output: query_id, vec_id, cos_sim, rank (deterministic).
    """
    emb = corpus.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    # Round-13 (guide §2.4): one-row-broadcast argmin assignment inline —
    # no corpus-sized emb⋈cells join.
    cent_rows = _collect_cents(
        emb.where(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("_ccid"), F.col("_v").alias("_cv")
        )
    )
    assigned = _with_cents(emb, cent_rows).select(
        id_col,
        "_v",
        _nearest_entry(F.col("_v")).getField("c").alias("cell"),
    )
    q = assigned.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("_q"), "cell"
    )
    pairs = assigned.join(F.broadcast(q), "cell").where(
        F.col(id_col) != F.col("query_id")
    )
    scored = pairs.select(
        "query_id", id_col, cosine(F.col("_v"), F.col("_q")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", "rank")
    )


def _explode_subs(
    frame: DataFrame,
    id_col: str,
    out_col: str,
    n_subspaces: int,
    sub_d: int,
    vec_alias: str = "_e",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id, vec) -> (id, *extra, s, <out_col>): split each vector into
    its ``n_subspaces`` contiguous ``sub_d``-wide subvectors — the PQ
    decomposition shared by the codes/LUT build and the Lloyd
    sub-codebook trainer. ``extra`` columns pass through unchanged (the
    residual path keys query subvectors by (query, probed cell))."""
    return frame.select(
        id_col,
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col(vec_alias), s * sub_d + 1, sub_d).alias(
                            out_col
                        ),
                    )
                    for s in range(n_subspaces)
                ]
            )
        ).alias("_x"),
    ).select(id_col, *extra, F.col("_x.s").alias("s"), f"_x.{out_col}")


def _pq_codes_lut(
    d: DataFrame,
    id_col: str,
    dim: int,
    n_subspaces: int,
    n_cents: int,
    n_queries: int,
    codebook: DataFrame | None = None,
):
    """The shared PQ fine half: (codes, lut) from the subspace codebook —
    ONE definition of the struct-min assignment tie-break and the
    floor(d·1e9 + 0.5) LUT quantization, so the standalone ADC scan
    (pq_adc_topk), the IVF-PQ composite (ivf_pq_topk), and the TRAINED
    composite (ivf_pq_trained_topk) cannot drift apart (the
    composition-exactness test relies on them agreeing bitwise). ``d``
    is (id_col, _e: array<double>). ``codebook`` (s, _cid, cv) overrides
    the training-free default (subvectors of the first ``n_cents``
    corpus vectors) with Lloyd-trained sub-centroids.
    codes: (id, s, c); lut: (query_id, s, c, _du integer units).

    Round-13 optimization (guide §2.4): the sub-codebook is O(m·k·d/m)
    driver state (the Lloyd contract), so encoding is the per-subspace
    argmin over a one-row broadcast of the codebook — codes become ONE
    narrow projection of ``d`` (explode of an m-element code array),
    replacing subvector-explode → broadcast-join → groupBy(id, s) (a
    corpus-sized shuffle); the LUT likewise becomes a narrow explode
    over the (bounded) query rows. Same struct-min tie-break, same
    floor(d·1e9 + 0.5) quantization — bitwise identical."""
    book = _collect_codebook(d, id_col, dim, n_subspaces, n_cents, codebook)
    sub_d = dim // n_subspaces
    # Two-step projections: build the code/LUT arrays first, explode in
    # a separate select (Spark's generator extraction mangles
    # struct-field access in sibling expressions).
    codes = (
        _with_book(d, book)
        .select(
            id_col, _codes_array_from(F.col("_e"), n_subspaces, sub_d).alias("_ca")
        )
        .select(id_col, F.explode("_ca").alias("_x"))
        .select(id_col, F.col("_x.s").alias("s"), F.col("_x.c").alias("c"))
    )
    lut = (
        _with_book(d.where(F.col(id_col) < n_queries), book)
        .select(
            F.col(id_col).alias("query_id"),
            _lut_array_from(F.col("_e"), sub_d).alias("_la"),
        )
        .select("query_id", F.explode("_la").alias("_x"))
        .select(
            "query_id",
            F.col("_x.s").alias("s"),
            F.col("_x.c").alias("c"),
            F.col("_x._du").alias("_du"),
        )
    )
    return codes, lut


def _collect_codebook(
    d: DataFrame,
    id_col: str,
    dim: int,
    n_subspaces: int,
    n_cents: int,
    codebook: DataFrame | None,
    vec_alias: str = "_e",
) -> list[tuple[int, int, list[float]]]:
    """The sub-codebook as driver state: ``[(s, cid, cv), ...]`` sorted
    by (s, cid) — from a trained (s, _cid, cv) relation, or the
    training-free default (subvector slices of the first ``n_cents``
    corpus rows)."""
    sub_d = dim // n_subspaces
    book: list[tuple[int, int, list[float]]] = []
    if codebook is not None:
        for r in codebook.select("s", "_cid", "cv").collect():
            book.append((r["s"], r["_cid"], list(r["cv"])))
    else:
        seed_rows = (
            d.where(F.col(id_col) < n_cents)
            .select(F.col(id_col), F.col(vec_alias))
            .collect()
        )
        for r in seed_rows:
            v = list(r[1])
            for s in range(n_subspaces):
                book.append((s, r[0], v[s * sub_d : (s + 1) * sub_d]))
    book.sort(key=lambda t: (t[0], t[1]))
    return book


def _with_book(
    d: DataFrame, book: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """Attach the sub-codebook to every row of ``d`` as ``_book`` via a
    one-row broadcast (values as data, not plan literals — see the
    module note above _CENTS_SCHEMA)."""
    one = d.sparkSession.createDataFrame(
        [([(int(s), int(c), list(v)) for s, c, v in book],)], _BOOK_SCHEMA
    )
    return d.crossJoin(F.broadcast(one))


def _codes_array_from(vec, n_subspaces: int, sub_d: int, book_col=None):
    """Per-row PQ code array ``[(s, c)]`` — argmin over the attached
    ``_book`` per subspace (struct-min tie-break to the smallest cid)."""
    from ..functions.vectorops import sqdist

    col = F.col("_book") if book_col is None else book_col
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.array_min(
                    F.transform(
                        F.filter(col, lambda b: b["s"] == F.lit(s)),
                        lambda b: F.struct(
                            sqdist(
                                F.slice(vec, s * sub_d + 1, sub_d), b["cv"]
                            ).alias("d"),
                            b["_cid"].alias("c"),
                        ),
                    )
                )
                .getField("c")
                .alias("c"),
            )
            for s in range(n_subspaces)
        ]
    )


def _lut_array_from(vec, sub_d: int, book_col=None):
    """Per-query ADC lookup-table array ``[(s, c, _du)]`` — every
    (subspace, sub-centroid) distance in 1e-9 integer units, from the
    attached ``_book``."""
    from ..functions.vectorops import sqdist

    col = F.col("_book") if book_col is None else book_col
    return F.transform(
        col,
        lambda b: F.struct(
            b["s"].alias("s"),
            b["_cid"].alias("c"),
            F.floor(
                sqdist(
                    F.slice(vec, b["s"] * F.lit(sub_d) + F.lit(1), F.lit(sub_d)),
                    b["cv"],
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_du"),
        ),
    )


def pq_adc_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    n_cents: int = 8,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN search with Asymmetric Distance
    Computation (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011) — the compressed-index scale path
    that IVF (coarse cells) and LSH (hyperplane buckets) don't cover:

    * **Encode** (index build): each vector splits into ``n_subspaces``
      contiguous subvectors; each snaps to its nearest of ``n_cents``
      seed centroids (argmin L2, ties to the smallest centroid id via
      the struct-min discipline — the identical assignment
      q_embedding_pq_audit audits). The corpus is then represented by
      ``n_subspaces`` small codes per vector — at 100 TB this is the
      point: an 8-byte code row instead of a 256-byte float vector,
      so the scan that ranks a billion vectors reads 3% of the bytes.
    * **Search** (ADC): each query keeps its EXACT subvectors and
      precomputes a (subspace × centroid) lookup table of squared-L2
      distances — ``n_queries × n_subspaces × n_cents`` rows, a
      broadcast. Approximate distance(query, vec) = Σ_s LUT[s][code_s]
      — one equi-join on (subspace, centroid) + one partial-aggregated
      sum, never a D-dimensional fold per pair.

    Determinism: each LUT entry is quantized to integer 1e-9 units
    (``floor(d·1e9 + 0.5)`` — the operators/graph.py rule) BEFORE the
    per-pair sum, so the 8-way addition is exact integer math and
    order-independent (a double sum would be shuffle-order-dependent
    in the last ulp). Output: query_id, vec_id, adc_units (ascending =
    nearer), rank; ties break on vec_id.

    Codebook is training-free (subvectors of the first ``n_cents``
    corpus vectors — kmeans_update_step holds the training step); a
    real deployment swaps in trained centroids, every downstream step
    unchanged."""
    d = corpus.select(F.col(id_col), as_double_array(vec_col).alias("_e"))
    codes, lut = _pq_codes_lut(d, id_col, dim, n_subspaces, n_cents, n_queries)
    adc = (
        codes.join(F.broadcast(lut), ["s", "c"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("_du").cast("long").alias("adc_units"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_units").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "adc_units", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    n_cents: int = 8,
    n_cells: int = 8,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ composite ANN — the production retrieval shape (FAISS
    "IVFADC", Jégou et al. 2011): coarse quantization prunes the
    CANDIDATE SET (only the probed cell's inverted list is read,
    nprobe=1 — the :func:`ivf_cosine_topk` half) and product
    quantization compresses the CANDIDATES (8 codes per vector ranked
    by an ADC lookup-table sum, never a D-dim fold — the
    :func:`pq_adc_topk` half). At 100 TB the two multiply: the scan
    reads ~1/n_cells of the corpus at ~3% of the bytes.

    Composition is by construction: cells from full-vector argmin L2
    (ties to smallest centroid id), codes/LUT from the shared 8×8
    subspace codebook, candidates = the query's cell minus self, ADC
    in exact integer 1e-9 units (order-independent sum). Output:
    query_id, vec_id, adc_units, rank — ties on vec_id."""
    d = corpus.select(F.col(id_col), as_double_array(vec_col).alias("_e"))

    # --- coarse half: one-row-broadcast argmin assignment (round-13:
    # fused inline with the encode — no codes⋈cells join) ---
    cent_rows = _collect_cents(
        d.where(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("_ccid"), F.col("_e").alias("_cv")
        )
    )
    sub_d = dim // n_subspaces
    cell_expr = _nearest_entry(F.col("_e")).getField("c")

    # --- fine half: the SHARED PQ codes + query LUT, cell-tagged ---
    book_rows = _collect_codebook(d, id_col, dim, n_subspaces, n_cents, None)
    # Two-step projections (generator-extraction quirk — see lloyd_train).
    codes = (
        _with_book(_with_cents(d, cent_rows), book_rows)
        .select(
            id_col,
            cell_expr.alias("cell"),
            _codes_array_from(F.col("_e"), n_subspaces, sub_d).alias("_ca"),
        )
        .select(id_col, "cell", F.explode("_ca").alias("_x"))
        .select(
            id_col, "cell", F.col("_x.s").alias("s"), F.col("_x.c").alias("c")
        )
    )
    lut = (
        _with_book(
            _with_cents(d.where(F.col(id_col) < n_queries), cent_rows),
            book_rows,
        )
        .select(
            F.col(id_col).alias("query_id"),
            cell_expr.alias("cell"),
            _lut_array_from(F.col("_e"), sub_d).alias("_la"),
        )
        .select("query_id", "cell", F.explode("_la").alias("_x"))
        .select(
            "query_id",
            "cell",
            F.col("_x.s").alias("s"),
            F.col("_x.c").alias("c"),
            F.col("_x._du").alias("_du"),
        )
    )

    # --- compose: ADC only over the probed cell's inverted list ---
    adc = (
        codes.join(F.broadcast(lut), ["cell", "s", "c"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("_du").cast("long").alias("adc_units"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_units").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "adc_units", "rank")
    )


#: Quantized-integer mean unit for Lloyd centroid updates — the
#: kmeans_update_step discipline: member components sum as exact
#: floor(x·1e12 + 0.5) integer units inside DECIMAL(38,0), so the new
#: centroid doubles are bit-identical cross-engine and shuffle-order
#: independent.
_LLOYD_UNIT = 1.0e12


def lloyd_train(
    d: DataFrame,
    id_col: str,
    vec_alias: str,
    n_cents: int,
    iters: int,
    part_cols: tuple[str, ...] = (),
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Driver-coordinated Lloyd's algorithm (k-means) to a FIXED
    iteration count — q_kmeans_update_step's single step iterated
    (VERDICT r10 item 1), generic over an optional partition key so ONE
    definition trains both the IVF coarse quantizer (``part_cols=()``,
    full vectors) and the per-subspace PQ codebooks
    (``part_cols=("s",)``, exploded subvectors).

    Seeds are the rows with ``id < n_cents`` (the training-free
    codebook — training starts FROM the untrained quantizer, so the
    distortion comparison is seed-vs-converged on the same init), or an
    explicit ``seeds`` DataFrame (``*part_cols``, ``_ccid``, ``_cv``) —
    the k-means‖ entry point (:func:`kmeanspar_seeds`). Each
    iteration: assign every vector to its nearest centroid (argmin
    squared-L2, ties to the smallest centroid id via struct-min), then
    move each centroid to the exact-integer-unit per-dimension mean of
    its members (:data:`_LLOYD_UNIT`); an emptied centroid keeps its
    previous position (LEFT JOIN + coalesce — both engines replay the
    same guard). Centroids are COLLECTED to the driver after each
    iteration (k·dim doubles — the scale contract: iterating k-means at
    100 TB costs one narrow scan + one (cell, dim)-keyed partial
    aggregate per round, with O(k·dim) driver state, exactly how a
    production trainer runs), so the per-iteration lineage stays flat.

    Returns a small DataFrame (``*part_cols``, ``_ccid``, ``_cv``) of
    trained centroids with bitwise-reproducible components.

    Round-13 optimization (guide §2.4, §1.2 "the distributed
    algorithm"): because the centroids are O(k·dim) DRIVER state by
    contract (they were already collected every iteration), each
    iteration now assigns cells via a narrow argmin over a one-row
    broadcast of the centroid set (values as DATA, so every iteration
    reuses the same compiled plan — see the module note above
    _CENTS_SCHEMA) and aggregates the per-(cell, dim) integer-unit sums
    in ONE narrow scan + one k·dim-row partial aggregate — the
    relational form paid a crossJoin row-multiplication, a groupBy(id)
    corpus shuffle, a corpus-sized d⋈cells re-join, and a centroid
    left-join per iteration. Centroids are bitwise identical (same
    struct-min assignment, same exact integer-unit means).
    """
    from ..functions.vectorops import sqdist

    spark = d.sparkSession
    parts = list(part_cols)
    src = (
        seeds.select(*parts, "_ccid", "_cv")
        if seeds is not None
        else d.where(F.col(id_col) < n_cents).select(
            *parts,
            F.col(id_col).alias("_ccid"),
            F.col(vec_alias).alias("_cv"),
        )
    )
    part_schema = "".join(f"{p} int, " for p in parts)
    cents_schema = f"{part_schema}_ccid long, _cv array<double>"
    groups: dict[tuple, list[tuple[int, list[float]]]] = {}
    for r in src.collect():
        key = tuple(r[p] for p in parts)
        groups.setdefault(key, []).append((r["_ccid"], list(r["_cv"])))
    for g in groups.values():
        g.sort(key=lambda t: t[0])
    cands_schema = (
        "_cands array<struct<"
        + "".join(f"{p}: int, " for p in parts)
        + "_ccid: bigint, _cv: array<double>>>"
    )
    def with_cands(frame: DataFrame) -> DataFrame:
        one = spark.createDataFrame(
            [
                (
                    [
                        (*key, int(ccid), list(cv))
                        for key in sorted(groups)
                        for ccid, cv in groups[key]
                    ],
                )
            ],
            cands_schema,
        )
        return frame.crossJoin(F.broadcast(one))

    def assign_expr():
        vec = F.col(vec_alias)
        pool = F.col("_cands")
        if parts:
            def matches(c):
                cond = None
                for p in parts:
                    e = c[p] == F.col(p)
                    cond = e if cond is None else (cond & e)
                return cond

            pool = F.filter(pool, matches)
        return F.array_min(
            F.transform(
                pool,
                lambda c: F.struct(
                    sqdist(vec, c["_cv"]).alias("d"), c["_ccid"].alias("c")
                ),
            )
        ).getField("c")

    # The per-iteration exchange carries at most k·dim map-side-combined
    # rows REGARDLESS of corpus size, so size it to the bounded output
    # (_TRAIN_CONFS; guide §2.2 "fewer, larger reduce partitions"). At
    # sf0.1 this also removes the AQE 32→1 coalesce re-planning from
    # every training job (~0.3 s/iteration on this box).
    with scoped_confs(spark, _TRAIN_CONFS):
        for _ in range(iters):
            # Two-step projection: the generator (posexplode) must not
            # share a select with the struct-field assignment expression
            # — Spark's generator extraction re-analyzes siblings and
            # loses struct field names (FIELD_NOT_FOUND col1/col2).
            comp = with_cands(d).select(
                *parts, assign_expr().alias("_cell"), F.col(vec_alias)
            ).select(
                *parts, "_cell", F.posexplode(vec_alias).alias("_p", "_x")
            )
            ux = F.floor(
                F.col("_x") * F.lit(_LLOYD_UNIT) + F.lit(0.5)
            ).cast("decimal(38,0)")
            upd = (
                comp.groupBy(*parts, "_cell", "_p")
                .agg(F.count(F.lit(1)).alias("_n"), F.sum(ux).alias("_sx"))
                .select(
                    *parts,
                    "_cell",
                    "_p",
                    (
                        F.col("_sx").cast("double")
                        / F.lit(_LLOYD_UNIT)
                        / F.col("_n")
                    ).alias("_nc"),
                )
            )
            moved: dict[tuple, dict[int, list[tuple[int, float]]]] = {}
            for r in upd.collect():
                key = tuple(r[p] for p in parts)
                moved.setdefault(key, {}).setdefault(r["_cell"], []).append(
                    (r["_p"], r["_nc"])
                )
            # An emptied centroid keeps its previous position (the same
            # guard the relational form's LEFT JOIN + coalesce applies).
            for key, g in groups.items():
                nxt = []
                for ccid, cv in g:
                    comps = moved.get(key, {}).get(ccid)
                    if comps:
                        comps.sort(key=lambda t: t[0])
                        cv = [x for _, x in comps]
                    nxt.append((ccid, cv))
                groups[key] = nxt
    out = [
        (*key, ccid, cv)
        for key in sorted(groups)
        for ccid, cv in groups[key]
    ]
    return spark.createDataFrame(out, schema=cents_schema)


#: Session confs for the bounded training aggregates (Lloyd update,
#: k-means‖ cost/weight passes), set by session.scoped_confs for the
#: training loop: map-side partial aggregation collapses every map task
#: to ≤ k·dim (resp. ≤ |cands|) groups, so the exchange carries a
#: bounded row count at ANY corpus size — sizing its reduce partitions
#: to the output instead of the session default is scale-independent
#: (guide §2.2), and at bench scale removes the AQE coalesce round trip
#: from every training job.
_TRAIN_CONFS = {"spark.sql.shuffle.partitions": "8"}

#: k-means‖ per-round hash constants. The MinHash multipliers (< 3e4)
#: are NOT reusable here: sequential ids never wrap ``P`` under them, so
#: u(x) = h/P would concentrate near 0 and select everything. These
#: multipliers exceed ``P`` (they wrap for every id ≥ 1 and spread small
#: sequential ids across [0, P)) while keeping ``id·a`` within int64 for
#: ids up to ~4e9 — both engines compute the identical BIGINT chain.
_KMPAR_A = (1103515245, 2027730535)
_KMPAR_B = (12345, 54321)


def kmeanspar_seeds(
    d: DataFrame,
    id_col: str,
    vec_alias: str,
    n_cents: int,
    rounds: int = 2,
    oversample: int | None = None,
    t_reduce: int = 2,
) -> DataFrame:
    """k-means‖ ("scalable k-means++", Bahmani et al., VLDB 2012)
    seeding for :func:`lloyd_train` (VERDICT r12 item 3) — the public
    fix for first-k seeding's arbitrary init, DETERMINISTIC by
    construction so the DuckDB oracle replays it bitwise:

    1. Start from the minimum-id vector (k-means‖ picks one uniform
       point; the deterministic stand-in).
    2. ``rounds`` oversampling passes: each point joins the candidate
       set iff ``u(x) < ℓ·d²(x,C)/φ`` where ``d²(x,C)`` is its 1e-9
       integer-unit squared distance to the nearest candidate, ``φ``
       the exact integer total cost, and ``u(x)`` the cross-engine
       rolling-hash uniform ``((id·aᵣ + bᵣ) mod P)/P``
       (:data:`_KMPAR_A`/``_B`` — no rand(); Bahmani's independent
       coin flips with the hash as the coin). Expected ``ℓ`` new
       candidates per round.
    3. Weight every candidate by the size of its nearest-neighbor
       region (ties to the smaller candidate id).
    4. Reduce the O(ℓ·rounds) weighted candidates to ``n_cents`` seeds
       DRIVER-SIDE: weighted Lloyd from the top-k-by-weight candidates
       (``t_reduce`` iterations, exact 1e-12-integer-unit weighted
       means in unbounded Python ints — Bahmani §3.3's "recluster the
       weighted candidates").

    Scale contract: each pass is one narrow corpus scan against a
    broadcast candidate set + one partial agg; driver state is the
    O(ℓ·rounds·dim) candidate sample and the per-round 1-value cost —
    exactly how a production k-means‖ trainer runs at 100 TB. Returns
    (``_ccid``, ``_cv``) — :func:`lloyd_train`'s ``seeds`` contract
    (``_ccid`` keeps the winning candidates' corpus ids).
    """
    from ..functions.hashing import P
    from ..functions.vectorops import sqdist

    spark = d.sparkSession
    ell = n_cents if oversample is None else oversample
    assert rounds <= len(_KMPAR_A), "one hash constant pair per round"
    schema = "_ccid long, _cv array<double>"

    first = (
        d.select(F.col(id_col).alias("_ccid"), F.col(vec_alias).alias("_cv"))
        .orderBy("_ccid")
        .limit(1)
        .collect()
    )
    cands: list[tuple[int, list[float]]] = [
        (r._ccid, list(r._cv)) for r in first
    ]

    # Round-13 optimization (guide §2.4): the candidate set is driver
    # state by construction, so each pass's nearest-candidate distance
    # is a narrow min over a one-row broadcast of the candidates — one
    # NARROW scan + one 1-row total per round (the relational form paid
    # a crossJoin row-multiplication and a groupBy(id) corpus shuffle
    # per round, plus a corpus join to fetch the picked vectors). min
    # over the same sqdist doubles ≡ F.min("_d") bitwise; cands stay
    # bounded by the oversampling contract (expected 1 + rounds·ℓ).
    def min_du():
        return F.floor(
            F.array_min(
                F.transform(
                    F.col("_cents"), lambda c: sqdist(F.col(vec_alias), c["_cv"])
                )
            )
            * 1e9
            + F.lit(0.5)
        ).cast("long")

    with scoped_confs(spark, _TRAIN_CONFS):
        for r in range(1, rounds + 1):
            dc = _with_cents(d, cands)
            dist = dc.select(F.col(id_col), min_du().alias("_du"))
            phi = dist.agg(F.sum("_du")).collect()[0][0]
            a, b = _KMPAR_A[r - 1], _KMPAR_B[r - 1]
            u = ((F.col(id_col) * F.lit(a) + F.lit(b)) % F.lit(P)).cast(
                "double"
            ) / F.lit(float(P))
            thresh = (F.lit(ell) * F.col("_du").cast("double")) / F.lit(
                float(phi)
            )
            picked = (
                dc.select(
                    F.col(id_col).alias("_ccid"),
                    F.col(vec_alias).alias("_cv"),
                    min_du().alias("_du"),
                    u.alias("_u"),
                )
                .where(F.col("_u") < thresh)
                .collect()
            )
            cands += sorted(
                (r2._ccid, list(r2._cv)) for r2 in picked
            )

        near = (
            _with_cents(d, cands)
            .select(
                _nearest_entry(F.col(vec_alias)).getField("c").alias("_ncid")
            )
            .groupBy("_ncid")
            .agg(F.count(F.lit(1)).alias("_w"))
            .collect()
        )
    weights = {r3._ncid: r3._w for r3 in near}
    # A candidate whose region is empty (a duplicate vector losing the
    # d=0 tie to a smaller id) has no mass — it neither seeds nor votes
    # in the reduce (its weighted contribution would be zero anyway).
    weighted = [
        (cid, weights[cid], cv) for cid, cv in cands if weights.get(cid)
    ]
    seeds = _weighted_lloyd_reduce(weighted, n_cents, t_reduce)
    return spark.createDataFrame(seeds, schema=schema)


def _weighted_lloyd_reduce(
    cands: list[tuple[int, int, list[float]]], k: int, t: int
) -> list[tuple[int, list[float]]]:
    """Weighted Lloyd over the bounded candidate sample, in plain
    Python on the driver — every float op mirrors the oracle's SQL
    expression tree bitwise (left-fold squared-L2, ``floor(x·1e12+0.5)``
    units summed in unbounded ints ≡ DECIMAL(38,0), float(int)/1e12/W
    ≡ CAST AS DOUBLE division chain). Seeds are the top-k candidates by
    (weight DESC, id ASC); an emptied seed keeps its position."""
    import math

    def sq(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    seeds = [
        (cid, cv)
        for cid, _, cv in sorted(cands, key=lambda c: (-c[1], c[0]))[:k]
    ]
    for _ in range(t):
        groups: dict[int, list[tuple[int, list[float]]]] = {}
        for cid, w, cv in cands:
            best = min((sq(cv, sv), scid) for scid, sv in seeds)
            groups.setdefault(best[1], []).append((w, cv))
        nxt = []
        for scid, sv in seeds:
            mem = groups.get(scid)
            wtot = sum(w for w, _ in mem) if mem else 0
            if not wtot:
                nxt.append((scid, sv))
                continue
            nv = [
                float(
                    sum(
                        w * int(math.floor(v[p] * 1e12 + 0.5)) for w, v in mem
                    )
                )
                / 1e12
                / wtot
                for p in range(len(sv))
            ]
            nxt.append((scid, nv))
        seeds = nxt
    return seeds


def quantization_distortion(d: DataFrame, cents: DataFrame) -> DataFrame:
    """Total quantization cost of a centroid set over corpus ``d``
    (vec_id, _e): Σ over vectors of the 1e-9 integer-unit squared-L2 to
    the nearest centroid — the exact-integer yardstick the k-means‖
    audit hashes (order-independent: the per-vector unit floor happens
    BEFORE the sum, and the sum is exact int64). One narrow scan, zero
    shuffles (argmin over the one-row centroid broadcast — the
    pre-round-13 crossJoin + groupBy(vec_id) form shuffled the corpus).
    Returns one row (``distortion_units`` long)."""
    from ..functions.vectorops import sqdist

    m = F.array_min(
        F.transform(F.col("_cents"), lambda c: sqdist(F.col("_e"), c["_cv"]))
    )
    return _with_cents(d, _collect_cents(cents)).select(
        F.floor(m * 1e9 + F.lit(0.5)).cast("long").alias("_du")
    ).agg(F.sum("_du").cast("long").alias("distortion_units"))


def train_pq_codebook(
    d: DataFrame,
    id_col: str,
    dim: int,
    n_subspaces: int,
    n_cents: int,
    iters: int,
) -> DataFrame:
    """Lloyd-trained per-subspace PQ codebook in :func:`_pq_codes_lut`'s
    ``codebook`` schema (s, _cid, cv): each of the ``n_subspaces``
    sub-quantizers trains independently on its own subvector slice —
    one :func:`lloyd_train` call with ``s`` as the partition key, so
    all subspaces train in the same jobs."""
    sub_d = dim // n_subspaces
    subs = _explode_subs(d, id_col, "_sv", n_subspaces, sub_d)
    book = lloyd_train(
        subs, id_col, "_sv", n_cents, iters, part_cols=("s",)
    )
    return book.select(
        "s", F.col("_ccid").alias("_cid"), F.col("_cv").alias("cv")
    )


def ivf_pq_trained_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    n_cents: int = 8,
    n_cells: int = 8,
    n_queries: int = 10,
    k: int = 5,
    iters: int = 2,
    nprobe: int = 2,
) -> DataFrame:
    """TRAINED IVF-PQ ANN with multi-probe — :func:`ivf_pq_topk` with
    its two quality knobs turned (VERDICT r10 item 1): the coarse cells
    and the PQ sub-codebooks are Lloyd-trained (:func:`lloyd_train`,
    ``iters`` fixed iterations from the training-free seeds), and the
    query probes its ``nprobe`` nearest cells instead of one. Training
    reduces quantization distortion (Lloyd's monotonic-descent
    guarantee, pinned in tests/test_ann_recall.py) and multi-probe
    monotonically widens the candidate set — the two levers a FAISS
    user tunes first. Every downstream step is the SHARED machinery:
    :func:`_coarse_cells` assignment, :func:`_pq_codes_lut` codes/LUT,
    exact integer-unit ADC.

    Scale: training adds ``iters`` narrow scan+partial-agg rounds with
    O(k·dim) driver state; search reads ~nprobe/n_cells of the corpus
    at ~3% of the bytes (codes, not vectors). Output: query_id,
    vec_id, adc_units, rank — fully deterministic (exact integer ADC,
    ties on vec_id), so the DuckDB oracle replays training and search
    end-to-end."""
    d = _training_set(
        corpus.select(F.col(id_col), as_double_array(vec_col).alias("_e"))
    )

    coarse = lloyd_train(d, id_col, "_e", n_cells, iters)
    codebook = train_pq_codebook(d, id_col, dim, n_subspaces, n_cents, iters)

    # Round-13 (guide §2.4): assignment + encode fused into ONE narrow
    # projection of the corpus (argmin over the one-row broadcast of
    # the driver-state centroids/codebook) — the pre-round-13 form
    # shuffled the corpus for the assignment groupBy, the encode
    # groupBy, AND the codes⋈cells re-join.
    cent_rows = _collect_cents(coarse)
    book_rows = _collect_codebook(d, id_col, dim, n_subspaces, 0, codebook)
    sub_d = dim // n_subspaces
    codes_c = (
        _with_book(_with_cents(d, cent_rows), book_rows)
        .select(
            id_col,
            _nearest_entry(F.col("_e")).getField("c").alias("cell"),
            _codes_array_from(F.col("_e"), n_subspaces, sub_d).alias("_ca"),
        )
        .select(id_col, "cell", F.explode("_ca").alias("_x"))
        .select(
            id_col, "cell", F.col("_x.s").alias("s"), F.col("_x.c").alias("c")
        )
    )
    qcells = _coarse_cells(
        d.where(F.col(id_col) < n_queries),
        id_col,
        n_cells,
        vec_alias="_e",
        cents=coarse,
        nprobe=nprobe,
    ).select(F.col(id_col).alias("query_id"), "cell")
    _, lut = _pq_codes_lut(
        d, id_col, dim, n_subspaces, n_cents, n_queries, codebook=codebook
    )
    # One LUT copy per probed cell; a candidate lives in exactly one
    # cell, so the (cell, s, c) equi-join never double-counts a pair.
    lut_c = lut.join(F.broadcast(qcells), "query_id")
    adc = (
        codes_c.join(F.broadcast(lut_c), ["cell", "s", "c"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("_du").cast("long").alias("adc_units"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_units").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "adc_units", "rank")
    )


def train_ann_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    n_cents: int = 8,
    n_cells: int = 8,
    iters: int = 2,
) -> dict[str, DataFrame]:
    """Train a RESIDUAL-encoded IVF-PQ index — the FAISS IVFADC default
    (VERDICT r11 item 1) — and return it as four named tables, the
    persistable artifact :func:`write_ann_index` ships to parquet:

    * ``centroids`` (_ccid, _cv): Lloyd-trained coarse quantizer.
    * ``codebook`` (s, _cid, cv): per-subspace PQ codebooks trained on
      RESIDUALS ``v − centroid(cell(v))``, not raw vectors — the
      encoding change that moves recall beyond trained-raw.
    * ``cells`` (id, cell): each corpus vector's coarse assignment.
    * ``codes`` (id, s, c): each vector's residual PQ codes.

    Training order matters: coarse first (residuals need final cells),
    then the sub-codebooks on the residual distribution. Scale: both
    trainings are ``iters`` narrow scan + (key, dim)-partial-agg rounds
    with O(k·dim) driver state; the index tables the search reads are
    the codes (8 small ints per vector, ~3% of the embedding bytes)
    plus two broadcast-sized centroid tables.

    Round-13 optimization (guide §2.4): assignment, residual, and
    encode all compile to literal expressions over the driver-state
    centroids/codebook, so ``cells``/``codes`` are NARROW projections
    of the corpus scan (the pre-round-13 build shuffled the corpus
    three times: assignment groupBy, the residual d⋈cells join, and
    the encode groupBy). The extra ``encoded`` table (id, cell, s, c)
    is the two projections fused — inline searches use it to skip the
    codes⋈cells join; :func:`write_ann_index` persists only the four
    canonical tables."""
    d = _training_set(
        corpus.select(F.col(id_col), as_double_array(vec_col).alias("_e"))
    )
    coarse = lloyd_train(d, id_col, "_e", n_cells, iters)
    cent_rows = _collect_cents(coarse)
    sub_d = dim // n_subspaces
    # Materialize the residual table once (guide §3.3): the codebook
    # trainer re-reads it ``iters``+1 times and the encode once more —
    # without the cut, every one of those jobs re-runs the
    # scan+assign+residual chain (a production trainer materializes its
    # residual training set the same way before the sub-quantizer fit).
    rd = (
        _with_cents(d, cent_rows)
        .select(
            id_col,
            _nearest_entry(F.col("_e")).getField("c").alias("cell"),
            F.col("_e"),
            F.col("_cents"),
        )
        .select(
            id_col,
            "cell",
            F.zip_with(
                F.col("_e"),
                _cent_lookup(F.col("cell")),
                lambda x, y: x - y,
            ).alias("_e"),
        )
        .localCheckpoint(eager=True)
    )
    book = train_pq_codebook(rd, id_col, dim, n_subspaces, n_cents, iters)
    book_rows = _collect_codebook(rd, id_col, dim, n_subspaces, n_cents, book)
    # Materialize the per-vector (cell, code-array) rows once —
    # guide §3.3: the encoded table IS the persistable index payload
    # (8 small ints + a cell id per vector, ~3% of the corpus bytes),
    # and truncating the lineage here keeps every downstream plan
    # (search join, persist write, compaction write) a scan of this
    # relation instead of a re-inlined copy of the train+encode
    # expression tree.
    enc_arr = (
        _with_book(rd, book_rows)
        .select(
            id_col,
            "cell",
            _codes_array_from(F.col("_e"), n_subspaces, sub_d).alias("_ca"),
        )
        .localCheckpoint(eager=True)
    )
    cells = enc_arr.select(id_col, "cell")
    codes = enc_arr.select(id_col, F.explode("_ca").alias("_x")).select(
        id_col, F.col("_x.s").alias("s"), F.col("_x.c").alias("c")
    )
    encoded = enc_arr.select(
        id_col, "cell", F.explode("_ca").alias("_x")
    ).select(
        id_col, "cell", F.col("_x.s").alias("s"), F.col("_x.c").alias("c")
    )
    return {
        "centroids": coarse,
        "codebook": book,
        "cells": cells,
        "codes": codes,
        "encoded": encoded,
    }


def encode_into_index(
    new_vecs: DataFrame,
    index: dict[str, DataFrame],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Assign + residual-encode NEW vectors against a FROZEN index —
    the incremental-append path (VERDICT r11 item 2): at 100 TB the
    index trains offline once and the corpus grows by deltas, so
    appends must cost one assignment + one encode over the delta, never
    a retrain. No training state is touched; because assignment and
    encoding are deterministic functions of the frozen
    centroids/codebook, append ≡ rebuild-encode for the appended slice
    (pinned by the two-phase test). Returns (cells, codes) for the new
    vectors, union-able onto the index tables. Both are NARROW
    projections of the delta scan (round-13: one-row-broadcast argmin
    assignment + residual encode — zero shuffles over the delta)."""
    d = new_vecs.select(F.col(id_col), as_double_array(vec_col).alias("_e"))
    cent_rows = _collect_cents(index["centroids"])
    book_rows = _collect_codebook(
        d, id_col, dim, n_subspaces, 0, index["codebook"]
    )
    sub_d = dim // n_subspaces
    rd = (
        _with_cents(d, cent_rows)
        .select(
            id_col,
            _nearest_entry(F.col("_e")).getField("c").alias("cell"),
            F.col("_e"),
            F.col("_cents"),
        )
        .select(
            id_col,
            "cell",
            F.zip_with(
                F.col("_e"),
                _cent_lookup(F.col("cell")),
                lambda x, y: x - y,
            ).alias("_e"),
        )
    )
    # Same materialization point as train_ann_index (guide §3.3): the
    # append delta's encoded rows are the index fragment a production
    # append writes; truncating here keeps union/search/write plans
    # scans instead of re-inlined encode trees.
    enc_arr = (
        _with_book(rd, book_rows)
        .select(
            id_col,
            "cell",
            _codes_array_from(F.col("_e"), n_subspaces, sub_d).alias("_ca"),
        )
        .localCheckpoint(eager=True)
    )
    cells = enc_arr.select(id_col, "cell")
    codes = enc_arr.select(id_col, F.explode("_ca").alias("_x")).select(
        id_col, F.col("_x.s").alias("s"), F.col("_x.c").alias("c")
    )
    return cells, codes


def ann_index_search(
    queries: DataFrame,
    index: dict[str, DataFrame],
    id_col: str = "vec_id",
    dim: int = 64,
    n_subspaces: int = 8,
    nprobe: int = 2,
    k: int = 5,
    attrs: DataFrame | None = None,
    attr_col: str = "label",
    query_attr: str = "_qattr",
) -> DataFrame:
    """Search a (frozen, possibly parquet-loaded) residual IVF-PQ index:
    per (query, probed cell) the query's OWN residual vs that cell's
    centroid builds the ADC lookup table — residual encoding makes the
    LUT cell-dependent, which is exactly how FAISS computes IVFADC
    distances (distance ≈ Σ_s ‖r_q(cell) − codebook[s][code]‖²).
    ``queries`` is (query_id, _e: array<double>); candidates are the
    probed cells' inverted lists minus self. Exact integer 1e-9-unit
    ADC, ties on vec_id — fully deterministic, oracle-replayable.

    ``attrs`` switches on FILTERED search (FAISS ``IDSelector`` /
    per-tenant vector search): ``attrs`` is the corpus metadata
    relation (``id_col``, ``attr_col``) and each query row carries the
    attribute value it wants in ``query_attr``; candidates whose
    attribute differs are dropped BEFORE the ADC ranking, so every one
    of the k result slots satisfies the predicate (PRE-filtering — a
    post-hoc filter of an unfiltered top-k would silently return fewer
    than k survivors, the classic filtered-ANN mistake). The predicate
    is applied to the inverted-list scan as a join filter; at 100 TB
    the metadata column is stored alongside the codes at index-build
    time (the codes⋈attrs join here is co-located by construction —
    both sides are keyed and written by ``id_col``), so filtering
    prunes candidates before any per-candidate arithmetic.

    Round-13 optimization (guide §2.4): the query side — probe cells,
    per-cell residuals, and the per-(query, cell) LUT — is built as
    narrow literal expressions over the (bounded) query rows instead of
    four joins; the corpus side uses the fused ``encoded`` table when
    the index carries one (inline-trained indexes), skipping the
    codes⋈cells shuffle join; a frozen parquet-loaded index keeps the
    join (its tables are separate files by design)."""
    cent_rows = _collect_cents(index["centroids"])
    book_rows = _collect_codebook(
        queries, "query_id", dim, n_subspaces, 0, index["codebook"]
    )
    sub_d = dim // n_subspaces
    qcols = [query_attr] if attrs is not None else []
    # Two-step projections (generator-extraction quirk — see lloyd_train).
    probes = (
        _with_cents(queries, cent_rows)
        .select(
            "query_id",
            *qcols,
            F.col("_e"),
            F.col("_cents"),
            _nearest_entries(F.col("_e"), nprobe).alias("_pcs"),
        )
        .select(
            "query_id", *qcols, "_e", "_cents", F.explode("_pcs").alias("_pc")
        )
        .select(
            "query_id",
            *qcols,
            F.col("_pc.c").alias("cell"),
            F.zip_with(
                F.col("_e"),
                _cent_lookup(F.col("_pc.c")),
                lambda x, y: x - y,
            ).alias("_e"),
        )
    )
    lut = (
        _with_book(probes, book_rows)
        .select(
            "query_id",
            *qcols,
            "cell",
            _lut_array_from(F.col("_e"), sub_d).alias("_la"),
        )
        .select("query_id", *qcols, "cell", F.explode("_la").alias("_x"))
        .select(
            "query_id",
            *qcols,
            "cell",
            F.col("_x.s").alias("s"),
            F.col("_x.c").alias("c"),
            F.col("_x._du").alias("_du"),
        )
    )
    codes_c = (
        index["encoded"]
        if "encoded" in index
        else index["codes"].join(index["cells"], id_col)
    )
    if attrs is not None:
        # The requested attribute value already rides the LUT rows
        # (carried through the narrow query-side build above).
        codes_c = codes_c.join(attrs.select(id_col, attr_col), id_col)
    cand = codes_c.join(F.broadcast(lut), ["cell", "s", "c"]).where(
        F.col(id_col) != F.col("query_id")
    )
    if attrs is not None:
        cand = cand.where(F.col(attr_col) == F.col(query_attr))
    adc = cand.groupBy("query_id", id_col).agg(
        F.sum("_du").cast("long").alias("adc_units")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_units").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "adc_units", "rank")
    )


def ann_index_search_refined(
    queries: DataFrame,
    index: dict[str, DataFrame],
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    nprobe: int = 2,
    k: int = 5,
    refine_factor: int = 4,
) -> DataFrame:
    """ADC shortlist + exact re-rank — FAISS's ``IndexRefineFlat``
    (VERDICT r12 item 2), the standard public recall lever after
    residual encoding: :func:`ann_index_search` retrieves the top
    ``refine_factor·k`` candidates by approximate ADC distance, then
    ONLY those candidates' raw vectors are fetched and re-ranked by
    exact squared-L2 against the query. The approximation error PQ
    introduces inside the shortlist is thereby erased; only candidates
    the shortlist missed entirely still cost recall.

    Scale contract: the shortlist is ``n_queries · refine_factor · k``
    rows — broadcast-sized by construction — so the raw-vector fetch is
    a broadcast-hash join against the corpus scan (no shuffle of the
    corpus; at 100 TB this reads the few hundred candidate vectors'
    rows, column-pruned to (id, vec)). Exact distances floor to 1e-9
    integer units (the LUT discipline) — fully deterministic,
    oracle-replayable. Output: query_id, vec_id, exact_units, rank.
    """
    from ..functions.vectorops import sqdist

    cand = ann_index_search(
        queries,
        index,
        id_col=id_col,
        dim=dim,
        n_subspaces=n_subspaces,
        nprobe=nprobe,
        k=refine_factor * k,
    ).select("query_id", id_col)
    d = corpus.select(F.col(id_col), as_double_array(vec_col).alias("_ce"))
    qv = queries.select("query_id", F.col("_e").alias("_qe"))
    # Shortlist and queries are both k-bounded: broadcast them onto the
    # corpus scan; the corpus never shuffles.
    exact = (
        d.join(F.broadcast(cand), id_col)
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            id_col,
            F.floor(sqdist(F.col("_ce"), F.col("_qe")) * 1e9 + F.lit(0.5))
            .cast("long")
            .alias("exact_units"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_units").asc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "exact_units", "rank")
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 8,
    n_cents: int = 8,
    n_cells: int = 8,
    n_queries: int = 10,
    k: int = 5,
    iters: int = 2,
    nprobe: int = 2,
    index: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """RESIDUAL-encoded trained IVF-PQ ANN — :func:`ivf_pq_trained_topk`
    with the encoding upgraded from raw vectors to coarse residuals
    (FAISS's IVF-PQ default; VERDICT r11 item 1). The machinery is the
    index-lifecycle triple (:func:`train_ann_index` →
    :func:`ann_index_search`), so the registry query IS the persistable
    index path with training inlined; pass ``index`` to search a
    pre-built (e.g. parquet-loaded) index instead. Output: query_id,
    vec_id, adc_units, rank — exact integer ADC, ties on vec_id."""
    d = corpus.select(F.col(id_col), as_double_array(vec_col).alias("_e"))
    if index is None:
        index = train_ann_index(
            corpus, id_col, vec_col, dim, n_subspaces, n_cents, n_cells, iters
        )
    q = d.where(F.col(id_col) < n_queries).withColumnRenamed(
        id_col, "query_id"
    )
    return ann_index_search(
        q, index, id_col=id_col, dim=dim, n_subspaces=n_subspaces,
        nprobe=nprobe, k=k,
    )


def semantic_dedup_cells(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
    threshold: float = 0.25,
) -> DataFrame:
    """Semantic deduplication, SemDeDup shape (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023): embeddings cluster into Lloyd-trained cells
    (:func:`lloyd_train` — the ANN coarse quantizer reused as the
    dedup blocker), and near-duplicate detection runs WITHIN each cell
    only — never all-pairs. A vector is dropped iff a lower-id vector
    in its cell has cosine ≥ ``threshold``; the survivor of every
    semantic neighborhood is its lowest id (the deterministic greedy
    rule — SQL-expressible, so the whole operator sits under the
    value-hash gate).

    Duplication-invariant like :func:`embedding_near_dup_pairs`
    (operators/dedup.py ``_set_groups`` discipline): identical vectors
    collapse to one representative per (cell, vector) BEFORE the pair
    join — k copies cost one cosine, not k²; a non-representative copy
    is dropped by construction (its rep is a lower id at cosine 1),
    and a representative is dropped iff some other group in the cell
    with a lower rep id clears the threshold. At 100 TB: cell count
    scales with corpus (k ~ √N keeps cells bounded), training is the
    shared O(k·dim)-driver-state Lloyd loop, and the pair space is
    Σ_cell (distinct-vectors-in-cell)² — the same blocked-pair
    discipline as the LSH dedup family. Output: (id, cell, kept)."""
    d = _training_set(
        embeddings.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    )
    coarse = lloyd_train(d, id_col, "_v", n_cells, iters)
    # Round-13 (guide §2.4): one-row-broadcast argmin assignment inline
    # — no corpus-sized d⋈cells join ahead of the group collapse.
    assigned = _with_cents(d, _collect_cents(coarse)).select(
        id_col,
        "_v",
        _nearest_entry(F.col("_v")).getField("c").alias("cell"),
    )
    groups = (
        assigned
        .groupBy("cell", "_v")
        .agg(
            F.min(id_col).alias("_rep"),
            F.sort_array(F.collect_list(id_col)).alias("_members"),
        )
    )
    ga = groups.select(
        "cell", F.col("_rep").alias("_rep_a"), F.col("_v").alias("_va")
    )
    gb = groups.select(
        "cell", F.col("_rep").alias("_rep_b"), F.col("_v").alias("_vb")
    )
    dropped_reps = (
        ga.join(gb, "cell")
        .where(F.col("_rep_b") < F.col("_rep_a"))
        .where(cosine(F.col("_va"), F.col("_vb")) >= F.lit(threshold))
        .select(F.col("_rep_a").alias("_rep"))
        .distinct()
    )
    return (
        groups.select(
            "cell", "_rep", F.explode("_members").alias(id_col)
        )
        .join(dropped_reps.withColumn("_d", F.lit(1)), "_rep", "left")
        .select(
            id_col,
            "cell",
            ((F.col(id_col) == F.col("_rep")) & F.col("_d").isNull()).alias(
                "kept"
            ),
        )
    )


def cell_balanced_sample(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 2,
    quota: int = 32,
) -> DataFrame:
    """Cluster-balanced (semantic-diversity-preserving) subsampling:
    assign embeddings to Lloyd-trained cells and keep up to ``quota``
    vectors PER CELL, chosen by a deterministic hash order (md5 of the
    stable id, tie-broken by the id — the dataset_shuffle_order key).
    The complement of SemDeDup's within-cell removal: where
    :func:`semantic_dedup_cells` trims redundancy inside a semantic
    neighborhood, this op caps each neighborhood's SHARE of the output,
    so a downsample can't be dominated by the corpus's densest regions
    (the cluster-proportional curation step between dedup and training).

    Scale: one trained assignment (the shared :func:`lloyd_train` /
    :func:`_coarse_cells` machinery) + one window ranked within cell.
    At 100 TB the cell count scales with the corpus (k ~ √N), so the
    per-cell partitions stay bounded and the hash-order rank
    parallelizes across cells; the output is ≤ k·quota rows. Output:
    (id, cell, cell_rank, sample_key) for the sampled rows — the rank
    and key sit under the value hash, so the SELECTION itself is
    oracle-checked, not just the counts."""
    d = _training_set(
        embeddings.select(F.col(id_col), as_double_array(vec_col).alias("_v"))
    )
    coarse = lloyd_train(d, id_col, "_v", n_cells, iters)
    # Round-13 (guide §2.4): one-row-broadcast argmin assignment — the
    # keyed frame is one narrow projection of the corpus scan.
    keyed = _with_cents(d, _collect_cents(coarse)).select(
        id_col,
        _nearest_entry(F.col("_v")).getField("c").alias("cell"),
        F.md5(F.col(id_col).cast("string").cast("binary")).alias(
            "sample_key"
        ),
    )
    w = Window.partitionBy("cell").orderBy("sample_key", id_col)
    return (
        keyed.withColumn("cell_rank", F.row_number().over(w).cast("long"))
        .where(F.col("cell_rank") <= quota)
        .select(id_col, "cell", "cell_rank", "sample_key")
    )


#: The index tables :func:`write_ann_index` persists, in load order.
ANN_INDEX_TABLES = ("centroids", "codebook", "cells", "codes")


def write_ann_index(index: dict[str, DataFrame], path: str) -> None:
    """Persist a trained index as four parquet tables (VERDICT r11
    item 2: train offline, serve frozen). Parquet round-trips IEEE
    doubles bitwise, so a loaded index searches bit-identically to the
    in-session one (pinned by the persist-search registry entry)."""
    for name in ANN_INDEX_TABLES:
        index[name].write.mode("overwrite").parquet(f"{path}/{name}")


def read_ann_index(spark, path: str) -> dict[str, DataFrame]:
    """Load a :func:`write_ann_index` artifact."""
    return {
        name: spark.read.parquet(f"{path}/{name}")
        for name in ANN_INDEX_TABLES
    }


def ann_compaction_plan(
    index: dict[str, DataFrame],
    id_col: str = "vec_id",
    target_rows: int = 1024,
) -> DataFrame:
    """File-bin plan for compacting an append-grown index's codes
    table (VERDICT r12 item 7 — the lakehouse OPTIMIZE planning step,
    q_compaction_plan's exclusive running-size binning applied to the
    index's inverted lists): cells in cell-id order pack into
    ``target_rows``-sized output files, ``bin = prior-rows DIV
    target``; a cell's inverted list NEVER splits across files (a
    probe reads whole cells — the zonemap value of the layout). The
    plan is a pure function of per-cell code counts — deterministic
    across engines and reruns. Output: (cell, file_bin, n_rows),
    n_cells rows."""
    counts = (
        index["codes"]
        .join(index["cells"], id_col)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    # Global window over an n_cells-row aggregate — k-bounded by
    # contract, same as the collected centroid tables.
    w = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    return (
        counts.withColumn(
            "prior", F.coalesce(F.sum("n_rows").over(w), F.lit(0))
        )
        .select(
            "cell",
            F.expr(f"prior DIV {target_rows}").cast("long").alias("file_bin"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


def compact_ann_index(
    spark,
    index: dict[str, DataFrame],
    path: str,
    id_col: str = "vec_id",
    target_rows: int = 1024,
) -> dict[str, DataFrame]:
    """Execute the OPTIMIZE step on an append-grown index: rewrite the
    codes table (the one that grows a fragment per append) clustered
    into the planned file bins — one parquet file per bin, each bin
    holding whole cells — and serve the index from the rewritten
    layout. ``repartition(file_bin)`` puts every bin in exactly one
    task, so the partitionBy write emits exactly one file per bin (the
    N-small-fragments → few-packed-files move; pinned physically in
    tests/test_ann_index.py). Read-equivalence is the oracle-checked
    contract: search over the compacted index must be bitwise the
    uncompacted search."""
    plan = ann_compaction_plan(index, id_col, target_rows)
    (
        index["codes"]
        .join(index["cells"], id_col)
        .join(F.broadcast(plan.select("cell", "file_bin")), "cell")
        .repartition(F.col("file_bin"))
        .write.mode("overwrite")
        .partitionBy("file_bin")
        .parquet(f"{path}/codes_compact")
    )
    compacted = spark.read.parquet(f"{path}/codes_compact")
    return {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        "cells": compacted.select(id_col, "cell").distinct(),
        "codes": compacted.select(id_col, "s", "c"),
    }


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Arrow-vectorized brute-force cosine top-k: the numpy-kernel variant
    of :func:`cosine_topk` for throughput-bound scoring.

    The query matrix is broadcast once per executor (Python worker reuse);
    each Arrow batch of corpus vectors scores against ALL queries with one
    BLAS matmul instead of per-pair fold expressions — the way a real
    100 TB scorer runs. Float summation order differs from the sequential
    fold, so ranks are stable but low-order score bits may differ: this
    variant is validated by rank-parity against the exact operator, not by
    the bitwise oracle (see tests/test_similarity_vectorized.py).
    """
    import pandas as pd

    spark = corpus.sparkSession
    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids = [r[0] for r in q_rows]
    q_mat = [list(map(float, r[1])) for r in q_rows]
    b_q = spark.sparkContext.broadcast((q_ids, q_mat))

    out_schema = f"{query_id_col} long, {id_col} long, cos_sim double"

    def score(batches):
        import numpy as np

        ids, mat = b_q.value
        qm = np.asarray(mat, dtype=np.float64)
        qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        for pdf in batches:
            vids = pdf[id_col].to_numpy()
            cm = np.asarray([list(map(float, v)) for v in pdf[vec_col]], dtype=np.float64)
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cn @ qn.T  # (batch, n_queries)
            n_b, n_q = sims.shape
            yield pd.DataFrame(
                {
                    query_id_col: list(ids) * n_b,
                    id_col: vids.repeat(n_q),
                    "cos_sim": sims.ravel(),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    scored = scored.where(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )
