"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.11).

Five escalating strategies, each a named operator over a ``(id, text)``
document DataFrame:

* :func:`exact_dedup` — group identical text, keep lowest id. One shuffle.
* :func:`fingerprint_dedup` — group on sha2(text); at 100 TB the 32-byte
  digest replaces arbitrarily long text as the shuffle key.
* :func:`jaccard_pairs` — exact n-gram-Jaccard near-dup pairs within
  cheap blocks (language × length band). The blocks bound the quadratic
  term: O(Σ block²) ≪ O(n²).
* :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH buckets →
  candidate pairs → exact-Jaccard verification. The 100 TB path: cost is
  O(n·k) hashing + one bucket-join whose fan-out is controlled by band
  size; no block heuristics needed.
* :func:`simhash_pairs` — SimHash bit-vote fingerprints + banded hamming
  candidates → hamming-distance filter.

All hashing is cross-engine modular arithmetic (functions/hashing.py) so
every operator here is DuckDB-oracle-checkable, including the LSH ones —
the oracle replays the same signatures, not just the same answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    BAND_ROWS,
    MINHASH_A,
    MINHASH_B,
    N_BANDS,
    P,
    band_key,
    rolling_hash,
)
from ..functions.textops import tokens

#: Persisted DataFrames created by the near-dup operators (shingle-set and
#: group tables are reused across several joins of one logical query, so
#: they are cached). Cache lifetime contract: the handles stay live until
#: the caller invokes :func:`release_caches` — bench/scale harnesses call
#: ``spark.catalog.clearCache()`` instead, which is equivalent; library
#: callers embedding these operators in a long-lived session should call
#: :func:`release_caches` once the returned DataFrame is materialized.
_LIVE_CACHES: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    _LIVE_CACHES.append(df.persist())
    return df


#: Public alias: other modules with loop-invariant persists (graph
#: PageRank's degree-annotated edges, llm.py's shared shingle-set pass)
#: route through the same ledger so :func:`release_caches` reclaims them.
persist_tracked = _persist_tracked


def release_caches() -> int:
    """Unpersist every DataFrame cached by the near-dup operators; returns
    the number released. Safe to call at any time — subsequent use of a
    returned DataFrame recomputes instead of reading cache."""
    n = 0
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()
        n += 1
    return n


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest id per identical text; report the copy count."""
    return (
        docs.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def fingerprint_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup keyed on the sha2-256 digest instead of raw text."""
    return (
        docs.withColumn("fp", F.sha2(F.col(text_col), 256))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select("fp", id_col, "n_copies")
    )


def _jaccard(a_units: Column, b_units: Column, a_n: Column, b_n: Column) -> Column:
    inter = F.size(F.array_intersect(a_units, b_units))
    return inter / (a_n + b_n - inter)


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = (),
    shingle_n: int = 3,
    threshold: float = 0.5,
    length_band: int | None = 50,
) -> DataFrame:
    """Exact shingle-Jaccard pairs (id_a < id_b) within blocks.

    ``block_cols`` plus an optional token-count band bound the candidate
    set; the bands are part of the operator's declared semantics (a pair
    split across bands is by definition not a candidate), which is what
    makes the operator subquadratic AND oracle-reproducible.

    Execution is an inverted-index count join, not pairwise set
    intersection: explode per-doc distinct shingle hashes, equi-join on
    (block keys, shingle) so each shared shingle yields one row, and
    count rows per pair — ``|A∩B|`` falls out of a groupBy. Cost is
    Σ_sh df(sh)² *within blocks* (tiny vs |block|² array intersections;
    measured 17.5s → ~2s at sf0.1). Documents shorter than ``shingle_n``
    tokens yield no shingles and drop out (declared).
    """
    if shingle_n != 3:
        raise ValueError("hashed shingle units are fixed at n=3 (shingle_hashes)")
    per_doc = shingle_hashes(docs, id_col, text_col).distinct()
    n = per_doc.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_units"))
    base = docs.select(id_col, *block_cols).join(n, id_col)
    if length_band is not None:
        base = base.withColumn(
            "len_band", F.floor(F.col("n_units") / F.lit(length_band))
        )
        block_keys = [*block_cols, "len_band"]
    else:
        block_keys = list(block_cols)
    toks = per_doc.join(base, id_col)

    a = toks.select(
        *[F.col(c).alias(f"a_{c}") for c in block_keys],
        F.col(id_col).alias("id_a"),
        F.col("n_units").alias("a_n"),
        F.col("sh").alias("a_sh"),
    )
    b = toks.select(
        *[F.col(c).alias(f"b_{c}") for c in block_keys],
        F.col(id_col).alias("id_b"),
        F.col("n_units").alias("b_n"),
        F.col("sh").alias("b_sh"),
    )
    cond = (F.col("id_a") < F.col("id_b")) & (F.col("a_sh") == F.col("b_sh"))
    for c in block_keys:
        cond = cond & (F.col(f"a_{c}") == F.col(f"b_{c}"))
    # Lossless size-ratio prune: |A∩B| <= min(|A|,|B|) and |A∪B| >=
    # max(|A|,|B|), so jaccard <= min/max — a pair can only pass the
    # threshold if the smaller set is at least `threshold` of the larger.
    cond = (
        cond
        & (F.col("a_n") * F.lit(threshold) <= F.col("b_n"))
        & (F.col("b_n") * F.lit(threshold) <= F.col("a_n"))
    )
    inter = (
        a.join(b, cond)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.first("a_n").alias("a_n"),
            F.first("b_n").alias("b_n"),
        )
    )
    jac = F.col("_inter") / (F.col("a_n") + F.col("b_n") - F.col("_inter"))
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _set_groups(sets: DataFrame, id_col: str) -> DataFrame:
    """Collapse identical shingle SETS to one representative row.

    Exact/boilerplate duplicates are the dominant redundancy of a web
    corpus, and every pair-generation strategy (prefix join, LSH bucket
    join) fans out quadratically in the number of identical copies —
    k copies multiply candidates by k². Grouping by the sorted set array
    first makes candidate volume a function of DISTINCT content only;
    group pairs are expanded back to doc pairs after verification
    (output-bound, see :func:`_expand_group_pairs`).

    Output: (units[sorted], members[sorted ids], rep = min id, n_units).

    Boundary: the members array is bounded by the duplication
    multiplicity of one distinct text. If a corpus carries million-fold
    identical boilerplate, the PAIR SEMANTICS themselves are the problem
    (g identical docs = g² output pairs) — run :func:`exact_dedup` first
    and near-dup only the survivors; the collapse keeps the JOIN safe
    either way.

    Not persisted here — callers cache via :func:`_persist_tracked` (the
    group table feeds several joins) and release via :func:`release_caches`.
    """
    return (
        sets.withColumn("units", F.sort_array("units"))
        .groupBy("units")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("members"))
        .withColumn("rep", F.col("members")[0])
        .withColumn("n_units", F.size("units"))
    )


def _expand_group_pairs(rep_pairs: DataFrame, groups: DataFrame) -> DataFrame:
    """Expand verified representative pairs to document pairs.

    Cross-group: every member of A × every member of B inherits the rep
    pair's jaccard (identical sets ⇒ identical similarity). Within-group:
    identical sets ⇒ J = 1.0 exactly, emitted for every member pair.
    Both are output-bound — the size of the ANSWER, not of the join.
    ``rep_pairs`` columns: (rep_a, rep_b, jaccard).
    """
    ga = groups.select(F.col("rep").alias("rep_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep").alias("rep_b"), F.col("members").alias("_mb"))
    cross = (
        rep_pairs.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select(F.explode("_ma").alias("_ia"), "_mb", "jaccard")
        .select("_ia", F.explode("_mb").alias("_ib"), "jaccard")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "jaccard",
        )
    )
    within = (
        groups.where(F.size("members") >= 2)
        .select(F.posexplode("members").alias("_i", "_ia"), "members")
        .select(
            F.col("_ia").alias("id_a"),
            F.explode(
                F.slice(F.col("members"), F.col("_i") + 2, F.size("members"))
            ).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


#: Collapse identical shingle sets only when more than this fraction of
#: documents are redundant copies. Below it, the collapse's extra joins
#: (group table + pair expansion) cost more than the k² candidate
#: fan-out they prevent.
COLLAPSE_DUP_FRACTION = 0.10


def _ppjoin_rep_pairs(reps: DataFrame, threshold: float) -> DataFrame:
    """PPJoin core over ``(rep, units, n_units)`` rows with DISTINCT reps:
    returns ``(rep_a, rep_b, jaccard)`` for every pair with exact
    set-Jaccard ≥ threshold (rep_a < rep_b).

    Order every set's shingles by (set frequency, shingle) — one fixed
    global order, rarest first. For J(A,B) ≥ t it holds that
    |A∩B| ≥ t·|A| (and ≥ t·|B|), so the smallest common element under the
    order sits in BOTH prefixes of length |X| − ⌈t·|X|⌉ + 1; the prefix
    equi-join therefore generates every qualifying pair, and boilerplate
    shingles (huge df) never enter a prefix. Verification joins candidates
    back to the set arrays and intersects per pair — O(C·s) array work
    inside two equi-joins, versus a token-level count join whose shuffle
    carries C·s ROWS (measured 8× slower at the 10× scale point).
    """
    per_rep = reps.select(F.col("rep"), F.explode("units").alias("sh"), "n_units")
    dfreq = per_rep.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    pos = F.row_number().over(
        Window.partitionBy("rep").orderBy(F.col("df").asc(), F.col("sh").asc())
    )
    prefix_len = F.col("n_units") - F.ceil(F.lit(threshold) * F.col("n_units")) + 1
    prefix = (
        per_rep.join(dfreq, "sh")
        .withColumn("_pos", pos)
        .where(F.col("_pos") <= prefix_len)
        .select("rep", "sh", "n_units")
    )
    pa = prefix.select(F.col("rep").alias("rep_a"), F.col("sh").alias("a_sh"), F.col("n_units").alias("a_n"))
    pb = prefix.select(F.col("rep").alias("rep_b"), F.col("sh").alias("b_sh"), F.col("n_units").alias("b_n"))
    cand = (
        pa.join(
            pb,
            (F.col("a_sh") == F.col("b_sh"))
            & (F.col("rep_a") < F.col("rep_b"))
            # lossless size-ratio prune (see jaccard_pairs)
            & (F.col("a_n") * F.lit(threshold) <= F.col("b_n"))
            & (F.col("b_n") * F.lit(threshold) <= F.col("a_n")),
        )
        .select("rep_a", "rep_b")
        .distinct()
    )
    sa = reps.select(F.col("rep").alias("rep_a"), F.col("units").alias("a_units"))
    sb = reps.select(F.col("rep").alias("rep_b"), F.col("units").alias("b_units"))
    inter = F.size(F.array_intersect("a_units", "b_units"))
    jac = inter / (F.size("a_units") + F.size("b_units") - inter)
    return (
        cand.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select("rep_a", "rep_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_ppjoin_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    collapse: bool | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """GLOBAL exact Jaccard pairs (no blocking) via PPJoin-style prefix
    filtering (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW 2008 — public algorithm).

    ADAPTIVE DISTINCT-SET COLLAPSE: documents with identical shingle sets
    (exact and boilerplate duplicates — the dominant redundancy of a web
    corpus) can be grouped by their sorted set so the prefix join runs
    over one REPRESENTATIVE per distinct set. Candidate volume under the
    prefix filter grows with df² per prefix shingle, so k identical
    copies of a corpus would otherwise multiply candidates by k² —
    measured at the 10x point: 31M candidate pairs and 151s without the
    collapse, 0.4M and ~8s with it. But on a LOW-duplication corpus the
    collapse only adds cost — a full-array groupBy shuffle plus the
    group-pair expansion joins (measured 1.65× at sf0.1, where nearly
    every set is unique) — so a 1-row aggregate over the cached set table
    (count vs count-distinct of the sorted-set hash) decides per input:
    collapse only when more than ``COLLAPSE_DUP_FRACTION`` of documents
    are redundant copies. ``collapse=True/False`` forces a path (tests /
    known-shape pipelines); the decision aggregate doubles as the cache
    warm-up, so the expensive shingle pass runs once either way.

    Group pairs are expanded back to doc pairs at the END (within-group
    pairs are J=1.0 by construction), which is output-bound — the price
    of the declared pair semantics, not of the join. PPJoin core: see
    :func:`_ppjoin_rep_pairs`. Cache lifetime: see :func:`release_caches`.
    """
    # One doc-keyed shuffle builds the sets; every later stage reuses it.
    # A caller-provided (already persisted) set table is shared as-is.
    if sets is None:
        sets = _persist_tracked(shingle_sets(docs, id_col, text_col))
    if collapse is None:
        n_docs, n_distinct = sets.agg(
            F.count(F.lit(1)),
            F.count_distinct(F.xxhash64(F.sort_array("units"))),
        ).first()
        collapse = n_distinct < (1.0 - COLLAPSE_DUP_FRACTION) * n_docs
    if not collapse:
        singles = sets.select(F.col(id_col).alias("rep"), "units", "n_units")
        return _ppjoin_rep_pairs(singles, threshold).select(
            F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b"), "jaccard"
        )
    groups = _persist_tracked(_set_groups(sets, id_col))
    return _expand_group_pairs(_ppjoin_rep_pairs(groups, threshold), groups)


def _containment_rep_pairs(reps: DataFrame, threshold: float) -> DataFrame:
    """Directed containment core over distinct ``(rep, units, n_units)``
    rows: ``(rep_a, rep_b, containment)`` for every ORDERED pair with
    C(A→B) = |A∩B| / |A| ≥ threshold and rep_a ≠ rep_b.

    Containment is the asymmetric near-dup relation — "A is quoted
    inside B" — so the prefix filter only binds on the PROBE side: if
    |A∩B| ≥ t·|A| then at most |A| − ⌈t·|A|⌉ elements of A miss B, so
    A's rarest-first prefix of length |A| − ⌈t·|A|⌉ + 1 must contain an
    element of B — ANY element, not just B's prefix. Candidates are
    therefore A-prefix ⋈ B-full-posting on the shingle key; the
    rarest-first order keeps boilerplate shingles (huge document
    frequency) out of prefixes, so the per-shingle fan-out is
    df_prefix·df, not df². Lossless size prune: |A∩B| ≤ |B|, so
    |B| ≥ t·|A| is necessary.
    """
    per_rep = reps.select(F.col("rep"), F.explode("units").alias("sh"), "n_units")
    dfreq = per_rep.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    pos = F.row_number().over(
        Window.partitionBy("rep").orderBy(F.col("df").asc(), F.col("sh").asc())
    )
    prefix_len = F.col("n_units") - F.ceil(F.lit(threshold) * F.col("n_units")) + 1
    prefix_a = (
        per_rep.join(dfreq, "sh")
        .withColumn("_pos", pos)
        .where(F.col("_pos") <= prefix_len)
        .select(
            F.col("rep").alias("rep_a"),
            F.col("sh").alias("a_sh"),
            F.col("n_units").alias("a_n"),
        )
    )
    full_b = per_rep.select(
        F.col("rep").alias("rep_b"),
        F.col("sh").alias("b_sh"),
        F.col("n_units").alias("b_n"),
    )
    cand = (
        prefix_a.join(
            full_b,
            (F.col("a_sh") == F.col("b_sh"))
            & (F.col("rep_a") != F.col("rep_b"))
            & (F.col("b_n") >= F.lit(threshold) * F.col("a_n")),
        )
        .select("rep_a", "rep_b")
        .distinct()
    )
    sa = reps.select(F.col("rep").alias("rep_a"), F.col("units").alias("a_units"))
    sb = reps.select(F.col("rep").alias("rep_b"), F.col("units").alias("b_units"))
    cont = F.size(F.array_intersect("a_units", "b_units")) / F.size("a_units")
    return (
        cand.join(sa, "rep_a")
        .join(sb, "rep_b")
        .select("rep_a", "rep_b", cont.alias("containment"))
        .where(F.col("containment") >= threshold)
    )


def _expand_group_pairs_directed(
    rep_pairs: DataFrame, groups: DataFrame, score_col: str
) -> DataFrame:
    """Directed twin of :func:`_expand_group_pairs`: verified rep pairs
    expand to ORDERED member pairs (id_a from A's group, id_b from B's,
    direction preserved); within-group pairs (identical sets ⇒ score 1.0
    both ways) emit every ordered pair. Output-bound, like the
    undirected expansion."""
    ga = groups.select(F.col("rep").alias("rep_a"), F.col("members").alias("_ma"))
    gb = groups.select(F.col("rep").alias("rep_b"), F.col("members").alias("_mb"))
    cross = (
        rep_pairs.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select(F.explode("_ma").alias("id_a"), "_mb", score_col)
        .select("id_a", F.explode("_mb").alias("id_b"), score_col)
    )
    within = (
        groups.where(F.size("members") >= 2)
        .select(F.explode("members").alias("id_a"), "members")
        .select(
            "id_a",
            F.explode("members").alias("id_b"),
            F.lit(1.0).alias(score_col),
        )
        .where(F.col("id_a") != F.col("id_b"))
    )
    return cross.unionByName(within)


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    collapse: bool | None = None,
) -> DataFrame:
    """GLOBAL directed shingle-containment pairs: every ordered pair
    (A, B) with |A∩B| / |A| ≥ threshold — the asymmetric near-dup
    relation that catches a short document quoted inside a longer one,
    which symmetric Jaccard misses (a 50-shingle doc fully contained in
    a 5000-shingle doc has J ≈ 0.01).

    Same scale discipline as :func:`jaccard_ppjoin_pairs`: adaptive
    identical-set collapse (k exact copies would otherwise fan
    candidates k²), prefix-filtered candidate generation
    (:func:`_containment_rep_pairs`), array verification on the bounded
    candidate set, output-bound directed group expansion.
    """
    sets = _persist_tracked(shingle_sets(docs, id_col, text_col))
    if collapse is None:
        n_docs, n_distinct = sets.agg(
            F.count(F.lit(1)),
            F.count_distinct(F.xxhash64(F.sort_array("units"))),
        ).first()
        collapse = n_distinct < (1.0 - COLLAPSE_DUP_FRACTION) * n_docs
    if not collapse:
        singles = sets.select(F.col(id_col).alias("rep"), "units", "n_units")
        return _containment_rep_pairs(singles, threshold).select(
            F.col("rep_a").alias("id_a"),
            F.col("rep_b").alias("id_b"),
            "containment",
        )
    groups = _persist_tracked(_set_groups(sets, id_col))
    return _expand_group_pairs_directed(
        _containment_rep_pairs(groups, threshold), groups, "containment"
    )


def _token_hash_dict(tok: DataFrame) -> DataFrame:
    """Hash each DISTINCT token once and broadcast the tiny dictionary.

    The char-fold rolling hash is the expensive expression here; applying
    it per (doc, token) occurrence recomputes the same fold millions of
    times (measured 81s at sf0.1). Vocabulary is tiny relative to the
    corpus, so hash the distinct tokens once and join the map back — the
    classic dictionary-encode pattern. The join carries NO hard broadcast
    hint: vocabulary is sub-linear but UNBOUNDED (a hint would OOM if the
    vocab outgrows executor memory at 100 TB), so AQE broadcasts it by
    measured size while it fits and falls back to a shuffled join when it
    doesn't — same plan at every tested SF, scale-safe beyond
    (VERDICT r5 broadcast discipline; enforced by plans/linter.lint_hints)."""
    return tok.select("tok").distinct().withColumn("th", rolling_hash("tok"))


def shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document 3-gram shingle hashes: (id, sh) one row per shingle.

    Token hashes come from the broadcast dictionary; a shingle hash is the
    positional combination ``(th_i·31² + th_{i+1}·31 + th_{i+2}) mod P`` —
    pure arithmetic, no per-shingle string hashing, so the distinct-shingle
    explosion (shingle vocabulary ≈ corpus size) costs nothing extra.
    Shingles (not unigrams) are the similarity unit because same-vocabulary
    corpora make unigram sets near-identical across unrelated documents —
    unigram MinHash flagged ~all pairs as duplicates on the test corpus.
    Documents with < 3 tokens yield no shingles (declared semantics).
    """
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    hashed = tok.join(_token_hash_dict(tok), "tok")
    w = Window.partitionBy(id_col).orderBy("pos")
    sh = (
        F.col("th") * (31 * 31) + F.lead("th", 1).over(w) * 31 + F.lead("th", 2).over(w)
    ) % P
    return (
        hashed.select(F.col(id_col), sh.alias("sh"))
        .where(F.col("sh").isNotNull())
    )


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document DISTINCT shingle-hash set: (id, units, n_units).

    This is the single expensive pass of the near-dup family; signatures,
    bands, and exact verification are all cheap narrow derivations of it.

    One shuffle, not two: instead of the row-level window+lead shingle
    combination (:func:`shingle_hashes`) followed by a second doc-keyed
    ``collect_set``, rebuild each document's ordered token-hash ARRAY with
    a single groupBy (sort_array over (pos, th) structs) and derive the
    shingle set array-side — the positional combination and the distinct
    both stay inside the row. Semantics identical to
    ``shingle_hashes(...).groupBy(id).collect_set`` (asserted in
    tests/test_dedup.py); at 100 TB this halves the shuffled volume of
    the near-dup family's dominant stage.
    """
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    hashed = tok.join(_token_hash_dict(tok), "tok")
    ths = (
        hashed.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "th"))).alias("pth"))
        .select(id_col, F.transform("pth", lambda x: x["th"]).alias("ths"))
    )
    # zip_with over three aligned slices, not get()-by-index over a
    # sequence: positional get() is O(n) per lookup inside codegen, which
    # makes the 3-gram build O(n²) per document (the lm_bigram 9x lesson);
    # the slice zip is linear. One mod at the end ≡ the fused expression
    # (operands stay < 2^41 ≪ 2^63).
    n_th = F.size("ths")
    sh = F.zip_with(
        F.zip_with(
            F.slice("ths", 1, n_th - 2),
            F.slice("ths", 2, n_th - 2),
            lambda a, b: a * (31 * 31) + b * 31,
        ),
        F.slice("ths", 3, n_th - 2),
        lambda ab, c: (ab + c) % P,
    )
    units = F.when(F.size("ths") >= 3, F.array_distinct(sh)).otherwise(
        F.array().cast("array<long>")
    )
    return (
        ths.select(F.col(id_col), units.alias("units"))
        .where(F.size("units") > 0)
        .withColumn("n_units", F.size("units"))
    )


def shingle_units_expr(text_col) -> "Column":
    """Per-ROW shingle-hash set — the NARROW twin of :func:`shingle_sets`
    (same tokens → rolling token hashes → 3-gram shingle combination →
    distinct, all inside the row; equality asserted in tests/test_dedup.py).

    :func:`shingle_sets` dictionary-encodes the token hash (each distinct
    token hashed once corpus-wide) because a batch corpus pass can afford
    the groupBy; a STREAMING pipeline feeding a stateful operator cannot
    put an aggregation upstream of it, so this variant recomputes the
    char-fold per occurrence instead — narrow (zero shuffles), which is
    exactly what a per-record ingest path needs. CPU trade, not a
    semantics trade.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    ths = F.transform(tokens(c), rolling_hash)
    n_th = F.size(ths)
    sh = F.zip_with(
        F.zip_with(
            F.slice(ths, 1, n_th - 2),
            F.slice(ths, 2, n_th - 2),
            lambda a, b: a * (31 * 31) + b * 31,
        ),
        F.slice(ths, 3, n_th - 2),
        lambda ab, x: (ab + x) % P,
    )
    return F.when(n_th >= 3, F.array_distinct(sh)).otherwise(
        F.array().cast("array<long>")
    )


def content_fp(units) -> "Column":
    """Deterministic content fingerprint of a shingle-unit set: md5 over
    the SORTED unit array. Internal equi-join/state key only (never
    oracle-compared — engine-native md5 is fine here); identical sets ⇒
    identical fingerprint regardless of token order of arrival."""
    u = F.col(units) if isinstance(units, str) else units
    return F.md5(
        F.concat_ws(" ", F.transform(F.sort_array(u), lambda x: x.cast("string")))
    )


def shingle_profiles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 28,
) -> DataFrame:
    """One-pass per-document shingle PROFILE: the distinct unit set
    (bit-identical to :func:`shingle_sets`) AND the frequency-weighted
    SimHash fingerprint (bit-identical to :func:`simhash_fingerprints`),
    both derived from a single token-hash groupBy.

    :func:`simhash_fingerprints` pays its own explode + dictionary join +
    window shuffle; when a caller needs sets AND fingerprints (the SimHash
    recall audit), that doubles the dominant stage. Here the occurrence-
    level shingle array (pre-``array_distinct``) already exists in-row, so
    the per-bit ±1 vote sums become 28 in-row integer folds over it — no
    second explode, no second shuffle; equivalence is asserted in
    tests/test_dedup.py. Columns: (id, units, n_units, simhash).
    """
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    hashed = tok.join(_token_hash_dict(tok), "tok")
    ths = (
        hashed.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "th"))).alias("pth"))
        .select(id_col, F.transform("pth", lambda x: x["th"]).alias("ths"))
    )
    # zip_with over three aligned slices, not get()-by-index over a
    # sequence: positional get() is O(n) per lookup inside codegen, which
    # makes the 3-gram build O(n²) per document (the lm_bigram 9x lesson);
    # the slice zip is linear. One mod at the end ≡ the fused expression
    # (operands stay < 2^41 ≪ 2^63).
    n_th = F.size("ths")
    sh = F.zip_with(
        F.zip_with(
            F.slice("ths", 1, n_th - 2),
            F.slice("ths", 2, n_th - 2),
            lambda a, b: a * (31 * 31) + b * 31,
        ),
        F.slice("ths", 3, n_th - 2),
        lambda ab, c: (ab + c) % P,
    )
    shs = F.when(F.size("ths") >= 3, sh).otherwise(F.array().cast("array<long>"))
    base = ths.select(F.col(id_col), shs.alias("shs"))

    def _vote(j: int):
        # closure-bound bit index: a default-arg lambda would change the
        # pyspark higher-order arity (see verify-skill lambda gotcha)
        return lambda acc, x: acc + ((F.shiftright(x, j) % 2) * 2 - 1)

    votes = [
        F.aggregate("shs", F.lit(0).cast("long"), _vote(j)).alias(f"v{j}")
        for j in range(bits)
    ]
    prof = base.select(F.col(id_col), "shs", *votes)
    sim = sum(
        [
            F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
            for j in range(bits)
        ],
        F.lit(0),
    )
    units = F.array_distinct("shs")
    return (
        prof.select(
            F.col(id_col),
            units.alias("units"),
            sim.cast("long").alias("simhash"),
        )
        .where(F.size("units") > 0)
        .withColumn("n_units", F.size("units"))
        .select(id_col, "units", "n_units", "simhash")
    )


def _signature_cols(units: Column) -> list[Column]:
    """MinHash signature from a shingle-set array — narrow (no shuffle):
    ``mh_i = array_min(transform(units, u -> (a_i*u + b_i) mod P))``.
    Min over the distinct set equals min over all occurrences (duplicates
    never change a min), so this matches the per-occurrence oracle GROUP BY.
    """
    return [
        F.array_min(F.transform(units, lambda u: (F.lit(a) * u + F.lit(b)) % P)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    Pipeline: ONE shingle-set pass → identical-set collapse
    (:func:`_set_groups` — identical documents share every band bucket,
    so k copies would otherwise put k² pairs in each bucket) → narrow
    signature derivation per representative → band bucket keys →
    self-join per band (the LSH candidate generation) → distinct rep
    pairs → verify with exact shingle-set Jaccard ≥ threshold → expand
    groups back to doc pairs. Scale: the only joins are equi-joins on
    bucket keys, candidate volume is a function of DISTINCT content
    (tuned by N_BANDS/BAND_ROWS), and the persisted group table is the
    same thing a 100 TB pipeline would checkpoint between the hashing
    and pairing stages.
    """
    groups, rep_pairs = minhash_group_pairs(
        docs, id_col, text_col, threshold, sets=sets
    )
    return _expand_group_pairs(rep_pairs, groups)


def minhash_group_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    sets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The collapsed core of :func:`minhash_lsh_pairs`: returns
    ``(groups, rep_pairs)`` — the identical-set group table and the
    verified near-dup pairs between group REPRESENTATIVES. Consumers
    that only need group-level structure (connected components,
    cluster statistics) should build on this and never materialize the
    expanded doc-pair list, which is quadratic within duplicate groups
    by declared semantics. The group table is cached (it feeds the band,
    verify, and expansion joins) — lifetime per :func:`release_caches`.
    ``sets`` lets callers share one precomputed shingle-set pass across
    several pair generators (see :func:`minhash_recall`)."""
    if sets is None:
        sets = shingle_sets(docs, id_col, text_col)
    groups = _persist_tracked(_set_groups(sets, id_col))
    sig = groups.select(F.col("rep"), *_signature_cols(F.col("units")))
    bands = sig.select(
        F.col("rep"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        band_key(
                            F.col(f"mh{j * BAND_ROWS}"),
                            F.col(f"mh{j * BAND_ROWS + 1}"),
                        ).alias("key"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("rep", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a = bands.select(F.col("rep").alias("rep_a"), "band", "key")
    b = bands.select(F.col("rep").alias("rep_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b")
        .distinct()
    )
    jac = _jaccard(F.col("a_units"), F.col("b_units"), F.col("a_n"), F.col("b_n"))
    rep_pairs = (
        cand.join(
            groups.select(
                F.col("rep").alias("rep_a"),
                F.col("units").alias("a_units"),
                F.col("n_units").alias("a_n"),
            ),
            "rep_a",
        )
        .join(
            groups.select(
                F.col("rep").alias("rep_b"),
                F.col("units").alias("b_units"),
                F.col("n_units").alias("b_n"),
            ),
            "rep_b",
        )
        .select("rep_a", "rep_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return groups, rep_pairs


def minhash_recall(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH recall report: exact PPJoin pairs left-joined against the
    MinHash-LSH verified pairs at the same threshold, reduced to one
    (n_true, n_found, recall) row. Both generators share ONE persisted
    shingle-set pass — the dominant stage of the near-dup family runs
    once, not twice (measured ~30% off the composed query)."""
    sets = _persist_tracked(shingle_sets(docs, id_col, text_col))
    exact = jaccard_ppjoin_pairs(
        docs, id_col, text_col, threshold=threshold, sets=sets
    ).select("id_a", "id_b")
    lsh = minhash_lsh_pairs(
        docs, id_col, text_col, threshold=threshold, sets=sets
    ).select(F.col("id_a").alias("_ga"), F.col("id_b").alias("_gb"))
    joined = exact.join(
        lsh,
        (F.col("id_a") == F.col("_ga")) & (F.col("id_b") == F.col("_gb")),
        "left",
    )
    found = F.when(F.col("_ga").isNotNull(), 1).otherwise(0)
    return joined.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(found).alias("n_found"),
        (F.sum(found) / F.count(F.lit(1))).alias("recall"),
    )


def simhash_recall(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash recall report: exact PPJoin Jaccard pairs (the truth) with
    each pair marked FOUND when the two fingerprints are within
    ``max_hamming``, reduced to one (n_true, n_found, recall) row.

    Mirrors :func:`minhash_recall`'s shared-pass discipline: ONE persisted
    :func:`shingle_profiles` frame feeds both the exact pair generator
    (its ``units`` columns are bit-identical to :func:`shingle_sets`) and
    the fingerprint joins — the dominant explode/dictionary/groupBy stage
    runs once, not twice. Hamming is evaluated only on the true pairs."""
    prof = _persist_tracked(shingle_profiles(docs, id_col, text_col))
    sets = prof.select(id_col, "units", "n_units")
    exact = jaccard_ppjoin_pairs(
        docs, id_col, text_col, threshold=threshold, sets=sets
    ).select("id_a", "id_b")
    fa = prof.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"))
    fb = prof.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"))
    joined = exact.join(fa, "id_a").join(fb, "id_b")
    found = F.when(
        F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))) <= max_hamming, 1
    ).otherwise(0)
    return joined.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(found).cast("long").alias("n_found"),
        (F.sum(found).cast("long") / F.count(F.lit(1))).alias("recall"),
    )


def minhash_components(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    cc_fn=None,
) -> DataFrame:
    """Near-dup cluster assignment over the COLLAPSED minhash graph.

    Connected components run on the representative graph (one node per
    distinct shingle set); members inherit their group's component, and
    documents outside every group (fewer than 3 tokens — no shingles)
    cluster with themselves. Exactly equals CC over the expanded pair
    list — within-group pairs fully connect each group, and each
    group's rep is its minimum member, so min-label per component is
    the same — while the graph size is a function of DISTINCT content,
    not duplication.
    """
    cc = cc_fn if cc_fn is not None else connected_components
    groups, rep_pairs = minhash_group_pairs(docs, id_col, text_col, threshold)
    reps = groups.select(F.col("rep").alias(id_col))
    rep_cc = cc(
        rep_pairs.select(
            F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b")
        ),
        reps,
        id_col=id_col,
    )
    member_cc = (
        groups.select(F.col("rep").alias(id_col), F.explode("members").alias("_m"))
        .join(rep_cc, id_col)
        .select(F.col("_m").alias(id_col), "cluster_id")
    )
    return (
        docs.select(id_col)
        .join(member_cc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 28,
) -> DataFrame:
    """SimHash: per-bit ±1 votes from every shingle occurrence (frequency-
    weighted), bit set where the vote sum is positive. Shingle basis for
    the same reason as MinHash (see shingle_hashes); 28 usable bits since
    shingle hashes live below P ≈ 2^30."""
    sh = shingle_hashes(docs, id_col, text_col)
    votes = sh.groupBy(id_col).agg(
        *[
            F.sum(((F.shiftright(F.col("sh"), j) % 2) * 2 - 1)).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sim = sum(
        [F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0)) for j in range(bits)],
        F.lit(0),
    )
    return votes.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 28,
    band_bits: int = 7,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidates come from banded fingerprint chunks (a pair within hamming d
    of a b-band split shares ≥1 band when d < n_bands), then the exact
    hamming filter runs on candidates only.
    """
    fp = simhash_fingerprints(docs, id_col, text_col, bits)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    bands = fp.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        (F.shiftright(F.col("simhash"), j * band_bits) % (mask + 1)).alias("key"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band", "key")
    b = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup cluster assignment: connected components by iterative
    minimum-label propagation (cluster id = smallest member id).

    The driver loop is inherent to iterative graph algorithms (Pregel
    shape): each round is one shuffle (neighbor-min groupBy); rounds =
    graph diameter, which for near-dup clusters is tiny. Each round's
    labels are localCheckpoint'ed — persist alone caches data but leaves
    the logical plan growing ~2× per round, and Catalyst analysis becomes
    the bottleneck long before execution does. For high-diameter graphs
    use :func:`connected_components_star` (same contract, log² rounds).
    """
    # One pass over the (possibly expensive) pair list: explode each edge
    # into both directions, and checkpoint — the loop joins `bi` every
    # round, and without truncation each round would re-derive the pair
    # generation from source.
    bi = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint()
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint()
    # Convergence detection without a self-join: labels only ever
    # DECREASE, so sum(label) strictly decreases until the fixpoint —
    # one cheap aggregate per round instead of a change-count join.
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        neigh = bi.join(
            labels, bi["dst"] == labels["node"], "inner"
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.select("node", "label")
            .union(neigh)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def _large_star(E: DataFrame) -> DataFrame:
    """One large-star round: every node's strictly-larger neighbors re-link
    to the minimum of its closed neighborhood."""
    bid = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = bid.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        bid.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(E: DataFrame) -> DataFrame:
    """One small-star round: every node's smaller-or-equal neighbors link
    to the minimum of its closed neighborhood."""
    d = E.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = d.groupBy("u").agg(F.min("v").alias("m"))  # all v < u, so min(N∪{u}) = min(v)
    linked = d.join(m, "u")
    return (
        linked.where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(linked.select("u", F.col("m").alias("v")))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC 2014 — public algorithm). Same contract as
    :func:`connected_components` (cluster id = smallest member id).

    Label propagation needs diameter-many rounds; star contraction halves
    long paths every round (O(log² n) worst case), which is the 100 TB
    path for high-diameter near-dup graphs (chains of pairwise-similar
    documents). Each round is two self-contained shuffles on node ids.

    Convergence: a cheap (count, Σu, Σv) signature per round; on a
    signature match, one exact set-difference confirms the fixpoint (the
    converged edge set IS the star assignment, so no label pass follows).

    Each round's edge set is localCheckpoint'ed: a star round references
    its input four times, so without truncation the LOGICAL plan grows
    4^rounds and Catalyst analysis, not execution, becomes the bottleneck
    (persist caches runtime data but does not shorten the plan).
    """
    E = (
        edges.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def signature(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("c"), F.sum("u").alias("su"), F.sum("v").alias("sv")
        ).collect()[0]
        return (row.c, row.su, row.sv)

    sig = signature(E)
    for _ in range(max_iter):
        nxt = _small_star(_large_star(E)).localCheckpoint()
        nsig = signature(nxt)
        if nsig == sig and E.exceptAll(nxt).isEmpty():
            break
        E, sig = nxt, nsig
    # At the fixpoint each non-root node carries exactly one (u, root) edge;
    # the min-agg also makes a max_iter-truncated run well-defined.
    lab = E.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("label"))
    out = (
        nodes.select(F.col(id_col).alias("node"))
        .join(lab, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", "node").alias("cluster_id"),
        )
    )
    return out


def minhash_probe_pairs(
    new_sets: DataFrame,
    corpus_sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """INCREMENTAL near-dup: probe a NEW batch's documents against an
    existing corpus without generating any corpus×corpus pair — the
    shape an ingest pipeline runs per arrival, where re-pairing the
    whole corpus (minhash_lsh_pairs) would redo work proportional to
    history instead of to the delta.

    Both inputs are shingle-set tables (share ONE shingle_sets pass and
    split, or keep the corpus side as a persisted/checkpointed index —
    the band table is exactly what a production pipeline stores between
    arrivals). Each side collapses to distinct-set representatives
    first (k_new × k_corp identical copies would otherwise multiply
    BOTH candidate and verification volume; after collapse they cost
    one rep pair plus output-bound expansion). Candidates come from an
    asymmetric band equi-join (new side ⋈ corpus side only), are
    verified with exact Jaccard, and expand to (new_id, corpus_id,
    jaccard). Cost is delta-bound: no stage touches corpus×corpus.
    """
    gn = _persist_tracked(_set_groups(new_sets, id_col))
    gc = _persist_tracked(_set_groups(corpus_sets, id_col))

    def bands_of(groups: DataFrame, rep_alias: str) -> DataFrame:
        sig = groups.select(F.col("rep"), *_signature_cols(F.col("units")))
        return sig.select(
            F.col("rep").alias(rep_alias),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            band_key(
                                F.col(f"mh{j * BAND_ROWS}"),
                                F.col(f"mh{j * BAND_ROWS + 1}"),
                            ).alias("key"),
                        )
                        for j in range(N_BANDS)
                    ]
                )
            ).alias("bk"),
        ).select(
            rep_alias, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )

    cand = (
        bands_of(gn, "rep_n")
        .join(bands_of(gc, "rep_c"), ["band", "key"])
        .select("rep_n", "rep_c")
        .distinct()
    )
    jac = _jaccard(F.col("n_units_arr"), F.col("c_units_arr"), F.col("n_n"), F.col("c_n"))
    rep_pairs = (
        cand.join(
            gn.select(
                F.col("rep").alias("rep_n"),
                F.col("units").alias("n_units_arr"),
                F.col("n_units").alias("n_n"),
                F.col("members").alias("_mn"),
            ),
            "rep_n",
        )
        .join(
            gc.select(
                F.col("rep").alias("rep_c"),
                F.col("units").alias("c_units_arr"),
                F.col("n_units").alias("c_n"),
                F.col("members").alias("_mc"),
            ),
            "rep_c",
        )
        .select("_mn", "_mc", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return (
        rep_pairs.select(F.explode("_mn").alias("new_id"), "_mc", "jaccard")
        .select(
            "new_id", F.explode("_mc").alias("corpus_id"), "jaccard"
        )
    )
