"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal columns (SURVEY.md §2.11) over the documents/embeddings tables.

Every approximate operator here (MinHash LSH, SimHash, hyperplane LSH) is
still exactly oracle-checked: the hashing is cross-engine modular
arithmetic (functions/hashing.py) and the hyperplanes are fixed literals,
so DuckDB replays the identical signatures — the oracle validates the
algorithm, not just a row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..functions.textops import (
    BPE_ISH_PATTERN,
    STOPWORDS,
    bigrams_col,
    trigrams_col,
)
from ..operators import similarity as sim_ops
from ..operators.dedup import (
    containment_pairs,
    exact_dedup,
    fingerprint_dedup,
    jaccard_pairs,
    jaccard_ppjoin_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from ..operators.multimodal import attach_payloads, blob_stats
from ..operators.bpe import bpe_encode, bpe_train, bpe_train_rules, word_freqs
from ..operators.packing import pack_sequences
from ..operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    hyperplanes,
    lsh_cosine_topk,
)
from ..operators.text import (
    LANG_PROFILES,
    fingerprints,
    language_id,
    quality_scores,
    token_stats,
)
from ..functions.vectorops import as_double_array
from ..registry import register
from ..sources.batch import load_table
from . import _oracles as _shared_oracles
from .bpe_oracles import (
    _BPE_MERGES,
    _bpe_encode_oracle,
    _bpe_train_oracle,
)
from .ann_oracles import (
    _ANN_BASE_FILTER,
    _RES_ITERS,
    _ann_recall_oracle,
    _ann_recall_refine_oracle,
    _ann_recall_residual_oracle,
    _ann_staleness_oracle,
    _cell_balanced_sample_oracle,
    _ivfpq_filtered_oracle,
    _ivfpq_refine_oracle,
    _KMPAR_ELL,
    _KMPAR_ROUNDS,
    _KMPAR_T,
    _kmeanspar_distortion_oracle,
    _lloyd_kmeanspar_oracle,
    _ivfpq_residual_ctes,
    _ivfpq_residual_oracle,
    _ivfpq_trained_oracle,
    _semantic_dedup_oracle,
)

# --- deduplication ----------------------------------------------------------


@register(
    "dedup_exact",
    """
SELECT
  min(doc_id) AS doc_id,
  count(*)    AS n_copies
FROM documents
GROUP BY text
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text."""
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_fingerprint",
    """
SELECT
  sha256(text) AS fp,
  min(doc_id)  AS doc_id,
  count(*)     AS n_copies
FROM documents
GROUP BY sha256(text)
""",
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on sha2-256 — the shuffle key is 32 bytes however
    long the document is (the 100 TB form of dedup_exact)."""
    return fingerprint_dedup(load_table(spark, sf_dir, "documents"))


_TOKENS = "string_split(text, ' ')"


# Shared shingle/MinHash oracle builders live in _oracles.py (no registry
# import there, so queries/analytics.py can reuse them without a cycle).
_shingle_sql_cte = _shared_oracles.shingle_sql_cte



@register(
    "dedup_jaccard_pairs",
    f"""
WITH {_shingle_sql_cte().lstrip()},
sets AS (
  SELECT doc_id, list(DISTINCT sh) AS units, count(DISTINCT sh) AS n_units
  FROM shg GROUP BY doc_id
), banded AS (
  SELECT d.doc_id, d.lang, s.units, s.n_units,
         CAST(floor(s.n_units / 50) AS BIGINT) AS len_band
  FROM documents d JOIN sets s ON d.doc_id = s.doc_id
)
SELECT
  a.doc_id AS id_a,
  b.doc_id AS id_b,
  len(list_intersect(a.units, b.units))
    / (a.n_units + b.n_units - len(list_intersect(a.units, b.units))) AS jaccard
FROM banded a
JOIN banded b
  ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.units, b.units))
    / (a.n_units + b.n_units - len(list_intersect(a.units, b.units))) >= 0.5
""",
)
def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hashed-3-gram-shingle Jaccard near-dup pairs within (lang,
    length band) blocks — the blocks bound the quadratic candidate space
    and are part of the declared semantics; execution is an inverted-index
    count join (see operators.dedup.jaccard_pairs)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return jaccard_pairs(
        docs, block_cols=("lang",), shingle_n=3, threshold=0.5, length_band=50
    )


@register(
    "dedup_jaccard_ppjoin",
    _shared_oracles.jaccard_pairs_global_sql(0.5),
)
def q_dedup_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL exact Jaccard pairs (every pair in the corpus, no blocking)
    with PPJoin-style prefix-filtered candidate generation — the declared
    semantics are purely 'jaccard >= 0.5', which the oracle states as the
    plain shared-shingle count join; the prefix filter is provably
    lossless (operators.dedup.jaccard_ppjoin_pairs)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return jaccard_ppjoin_pairs(docs, threshold=0.5)


@register(
    "dedup_containment",
    f"""
WITH {{shingles}},
sets AS (
  SELECT doc_id, list(DISTINCT sh) AS units, count(DISTINCT sh) AS n_units
  FROM shg GROUP BY doc_id
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       len(list_intersect(a.units, b.units)) / a.n_units AS containment
FROM sets a JOIN sets b ON a.doc_id != b.doc_id
WHERE len(list_intersect(a.units, b.units)) / a.n_units >= 0.8
""".format(shingles=_shared_oracles.shingle_sql_cte().lstrip()),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL directed shingle-containment pairs (|A∩B| / |A| ≥ 0.8) —
    the asymmetric near-dup relation ("A is quoted inside B") symmetric
    Jaccard misses for length-mismatched pairs. The oracle states the
    plain quadratic definition; execution is the prefix-filtered
    probe-side join with adaptive identical-set collapse
    (operators.dedup.containment_pairs)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return containment_pairs(docs, threshold=0.8)


@register(
    "embedding_quantize_int8",
    """
WITH comp AS (
  SELECT unnest(list_transform(embedding::DOUBLE[], (x, i) -> {'i': i, 'v': x})) AS u
  FROM embeddings
),
dims AS (
  SELECT u.i AS i, min(u.v) AS mn, max(u.v) AS mx FROM comp GROUP BY 1
),
arrs AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
),
errs AS (
  SELECT vec_id, len(embedding) AS n_dims,
         list_transform(
           list_zip(embedding::DOUBLE[], a.mns, a.mxs),
           z -> CASE WHEN z[3] = z[2] THEN 0.0
                ELSE abs(z[1] - (z[2] +
                  (least(127, greatest(-128,
                     floor((z[1] - z[2]) * 255 / (z[3] - z[2]) + 0.5) - 128))
                   + 128) * (z[3] - z[2]) / 255)) END) AS e
  FROM embeddings CROSS JOIN arrs a
)
SELECT vec_id, n_dims,
       list_sum(e) / n_dims AS mean_abs_err,
       list_max(e)          AS max_abs_err
FROM errs
""",
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit: per-dimension global [min, max]
    ranges (one tiny aggregate, broadcast back), every vector quantized
    to 8-bit codes and reconstructed, per-vector mean/max absolute
    reconstruction error — the compression-loss report a vector-store
    migration runs before switching its index to int8.

    Scale shape: the range pass is posexplode → groupBy(dim) with
    map-side partial min/max (dims ≪ rows, no skew), collapsed to ONE
    broadcast row of per-dim arrays; the quantize pass is a scan-shaped
    in-row array transform — zero additional shuffles, no UDF.
    Determinism: floor(x + 0.5) rounding (identical IEEE ops both
    engines) instead of round() whose half-tie convention differs;
    constant dimensions (mx = mn) quantize to error 0 by definition.
    """
    from ..functions.vectorops import as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double_array("embedding")
    dims = (
        emb.select(F.posexplode(v).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    arrs = dims.agg(
        F.array_sort(F.collect_list(F.struct("i", "mn", "mx"))).alias("st")
    ).select(
        F.transform("st", lambda s: s["mn"]).alias("mns"),
        F.transform("st", lambda s: s["mx"]).alias("mxs"),
    )

    def err(x, i):
        mn = F.element_at("mns", i + 1)
        mx = F.element_at("mxs", i + 1)
        code = (
            F.least(
                F.lit(127),
                F.greatest(
                    F.lit(-128),
                    F.floor((x - mn) * 255 / (mx - mn) + 0.5) - 128,
                ),
            )
        )
        recon = mn + (code + 128) * (mx - mn) / 255
        return F.when(mx == mn, F.lit(0.0)).otherwise(F.abs(x - recon))

    e = F.transform(v, err)
    return emb.crossJoin(F.broadcast(arrs)).select(
        "vec_id",
        F.size(v).alias("n_dims"),
        (
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x) / F.size(v)
        ).alias("mean_abs_err"),
        F.array_max(e).alias("max_abs_err"),
    )


_minhash_sql_cte = _shared_oracles.minhash_sql_cte
_minhash_bands_sql = _shared_oracles.minhash_bands_sql
_minhash_pairs_sql = _shared_oracles.minhash_pairs_sql


@register("dedup_minhash_lsh", _minhash_pairs_sql(0.7))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with exact-Jaccard verification —
    the subquadratic 100 TB dedup path. The oracle replays the identical
    signature arithmetic, validating the LSH itself."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents", parallelize=True), threshold=0.7)


@register(
    "dedup_cross_source",
    f"""
SELECT least(da.source, db.source)    AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*)                       AS n_pairs,
       max(p.jaccard)                 AS max_jaccard
FROM ({_minhash_pairs_sql(0.7)}) p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
WHERE da.source <> db.source
GROUP BY 1, 2
""",
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination matrix: near-dup pairs whose endpoints
    live in DIFFERENT sources, rolled up per source pair — the "dedupe
    crawl snapshot B against snapshot A / scrub pretraining data against
    a benchmark corpus" shape, as a corpus-level report instead of a
    per-pair list.

    Scale: reuses the collapsed MinHash-LSH pair generation (sub-quadratic,
    duplication-invariant); the two source lookups are hash joins on
    doc_id; the final rollup groups a pair list that is output-bound by
    the near-dup structure, into at most |sources|² rows. max() over
    identical doubles is bit-stable cross-engine (no float sums)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = minhash_lsh_pairs(docs, threshold=0.7)
    src = docs.select("doc_id", "source")
    annotated = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")),
            "id_b",
        )
        .where(F.col("_sa") != F.col("_sb"))
    )
    return (
        annotated.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _simhash_sql_cte(bits: int = hashing.SIMHASH_BITS) -> str:
    votes = ", ".join(
        f"CAST(SUM(((sh >> {j}) % 2) * 2 - 1) AS BIGINT) AS v{j}" for j in range(bits)
    )
    sim = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(bits)
    )
    return f"""{_shingle_sql_cte()},
votes AS (
  SELECT doc_id, {votes} FROM shg GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM votes
)"""


def _simhash_bands_sql(bits: int = hashing.SIMHASH_BITS, band_bits: int = 7) -> str:
    parts = []
    for j in range(bits // band_bits):
        parts.append(
            f"SELECT doc_id, simhash, {j} AS band,"
            f" (simhash >> {j * band_bits}) % {1 << band_bits} AS key FROM fp"
        )
    return " UNION ALL ".join(parts)


@register(
    "dedup_simhash",
    f"""
WITH {_simhash_sql_cte()},
bands AS ({_simhash_bands_sql()})
SELECT DISTINCT
  a.doc_id AS id_a,
  b.doc_id AS id_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit frequency-weighted bit votes, banded
    candidate generation, hamming ≤ 3 filter."""
    out = simhash_pairs(load_table(spark, sf_dir, "documents", parallelize=True))
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# --- similarity search ------------------------------------------------------


@register(
    "similarity_topk",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id, list_cosine_similarity(e, qe) AS cos_sim
  FROM d, q WHERE vec_id != query_id
)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
""",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 10 query vectors: broadcast
    queries × corpus scan, sequential-fold dot (bitwise equal to the
    oracle's list_cosine_similarity — verified), per-query top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _planes_sql(planes: list[list[float]]) -> str:
    rows = []
    for j, plane in enumerate(planes):
        arr = "[" + ", ".join(f"{w:.1f}" for w in plane) + "]::DOUBLE[]"
        rows.append(f"SELECT {j} AS plane_id, {arr} AS w")
    return " UNION ALL ".join(rows)


def _lsh_oracle_sql() -> str:
    planes = hyperplanes(64, sim_ops.N_PLANES)
    bucket = " + ".join(
        f"CASE WHEN list_sum(list_transform(list_zip(e, (SELECT w FROM planes WHERE plane_id = {j})), x -> x[1]*x[2])) > 0 THEN {2**j} ELSE 0 END"
        for j in range(sim_ops.N_PLANES)
    )
    return f"""
WITH planes AS ({_planes_sql(planes)}),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
hashed AS (SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket FROM d),
q AS (SELECT vec_id AS query_id, e AS qe, bucket FROM hashed WHERE vec_id < 10),
scored AS (
  SELECT query_id, h.vec_id, list_cosine_similarity(h.e, qe) AS cos_sim
  FROM hashed h JOIN q USING (bucket) WHERE h.vec_id != query_id
)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register("similarity_lsh_topk", _lsh_oracle_sql())
def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets + exact re-rank
    within bucket — the 100 TB ANN path (bucket equi-join replaces the
    cross join). Planes are fixed ±1 literals shared with the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_cosine_topk(emb, queries, dim=64, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "embedding_near_dup",
    """
WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT
  a.vec_id AS id_a,
  b.vec_id AS id_b,
  list_cosine_similarity(a.e, b.e) AS cos_sim
FROM d a JOIN d b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= 0.35
""",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine high-similarity pairs, blocked by label to bound
    the pair space. The synthetic embeddings are near-random (max
    intra-label cosine ≈ 0.47), so the demonstration threshold is 0.35 —
    a production near-dup filter runs the same plan at ≥ 0.95+."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, block_col="label", threshold=0.35)


@register(
    "embeddings_stats",
    """
SELECT
  label,
  COUNT(*) AS n_vecs,
  CAST(SUM(CAST(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) AS DECIMAL(30,6))) AS DOUBLE) AS sum_sq_norm,
  MIN(vec_id) AS min_vec_id,
  MAX(vec_id) AS max_vec_id
FROM embeddings
GROUP BY label
""",
)
def q_embeddings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus stats incl. exact-decimal sum of squared norms —
    the norm fold is the same sequential double arithmetic as the oracle."""
    from ..functions.vectorops import as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(as_double_array("embedding"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(sq.cast("decimal(30,6)")).cast("double").alias("sum_sq_norm"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


@register(
    "embedding_centroid_assign",
    """
WITH comp AS (
  SELECT label, unnest(list_transform(embedding::DOUBLE[], (x, i) -> {'i': i, 'v': x})) AS u
  FROM embeddings
),
cent AS (
  SELECT label AS clabel, u.i AS i,
         CAST(SUM(CAST(u.v AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS c
  FROM comp GROUP BY 1, 2
),
cent_arr AS (
  SELECT clabel, list(c ORDER BY i) AS centroid FROM cent GROUP BY 1
),
assigned AS (
  SELECT e.vec_id, e.label,
         min(struct_pack(
           d := list_sum(list_transform(list_zip(e.embedding::DOUBLE[], ca.centroid),
                                        z -> (z[1] - z[2]) * (z[1] - z[2]))),
           l := ca.clabel)).l AS assigned
  FROM embeddings e CROSS JOIN cent_arr ca
  GROUP BY 1, 2
)
SELECT label, assigned, count(*) AS n_vecs
FROM assigned GROUP BY 1, 2
""",
)
def q_embedding_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment audit (1 k-means step + confusion
    matrix): per-label centroids from exact-decimal component sums, every
    vector re-assigned to its closest centroid by squared euclidean
    distance (tie → smallest label, the registry's struct-min extremum
    discipline), counts per (true label, assigned). The semantic-cluster
    quality check a curation pipeline runs after embedding refresh.

    Scale: centroid build is ONE (label, pos) hash aggregate over the
    exploded components (map-side combinable); the assignment joins
    against a #labels-row broadcast table — fan-out |vecs| x |labels|
    narrow rows, no shuffle on the vector side; confusion rollup is
    |labels|² rows. The distance fold is the same sequential double
    arithmetic on both engines (embeddings_stats precedent)."""
    from ..functions.vectorops import as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    vec = as_double_array("embedding")
    comp = emb.select("label", F.posexplode(vec).alias("pos", "v"))
    cent = comp.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c
        ).alias("centroid")
    ).select(F.col("label").alias("clabel"), "centroid")
    dist = F.aggregate(
        F.zip_with(vec, F.col("centroid"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "label", "clabel", dist.alias("dist"))
        .groupBy("vec_id", "label")
        .agg(
            F.min(F.struct(F.col("dist"), F.col("clabel")))
            .getField("clabel")
            .alias("assigned")
        )
    )
    return assigned.groupBy("label", "assigned").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )


@register(
    "kmeans_update_step",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e AS cv FROM d WHERE vec_id < 8),
dists AS (
  SELECT vec_id, cid,
         list_sum(list_transform(list_zip(e, cv),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
  FROM d CROSS JOIN cents
),
cells AS (
  SELECT vec_id, (min(struct_pack(d := dist, c := cid))).c AS cell
  FROM dists GROUP BY vec_id
),
comp AS (
  SELECT cells.cell, u.i AS dim, u.v AS x
  FROM (
    SELECT vec_id,
           unnest(list_transform(e, (x, i) -> {'i': i, 'v': x})) AS u
    FROM d
  ) t JOIN cells USING (vec_id)
),
upd AS (
  SELECT cell, dim, count(*) AS n_members,
         CAST(SUM(CAST(floor(x * 1e12 + CAST(0.5 AS DOUBLE))
                       AS DECIMAL(38,0))) AS DOUBLE) / 1e12 / count(*)
           AS new_c
  FROM comp GROUP BY cell, dim
),
seedc AS (
  SELECT cid AS cell, u.i AS dim, u.v AS c0
  FROM (
    SELECT cid,
           unnest(list_transform(cv, (x, i) -> {'i': i, 'v': x})) AS u
    FROM cents
  ) s
)
SELECT u.cell,
       CAST(u.dim AS BIGINT)       AS dim,
       CAST(n_members AS BIGINT)   AS n_members,
       new_c,
       new_c - c0                  AS shift
FROM upd u JOIN seedc ON u.cell = seedc.cell AND u.dim = seedc.dim
""",
)
def q_kmeans_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of distributed k-means, oracle-checked:
    assign every vector to its nearest seed centroid (the IVF coarse
    quantizer's argmin-L2, ties to the smallest id), then UPDATE — each
    centroid moves to the per-dimension mean of its members. Completes
    the clustering triad: embedding_centroid_assign audits assignment,
    embedding_pq_audit the codebook, this the training step itself.

    Plan: assignment is |vecs| × broadcast(8 centroids) → struct-min
    (no vector-side shuffle); the update is ONE posexplode + one
    (cell, dim)-keyed aggregate with map-side partials — 512 output
    rows regardless of corpus size, so iterating k-means at 100 TB
    costs one narrow scan per round. Member means sum exact integer
    1e-12 units (the embedding_dim_variance discipline) inside
    DECIMAL(38,0), so the new centroids are bit-identical cross-engine;
    ``shift`` (new − seed component) is the per-dim convergence signal
    a training loop thresholds on."""
    from ..functions.vectorops import as_double_array, sqdist

    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", as_double_array("embedding").alias("e"))
    cents = d.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("cv")
    )
    dists = d.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", sqdist(F.col("e"), F.col("cv")).alias("dist")
    )
    cells = dists.groupBy("vec_id").agg(
        F.min(F.struct(F.col("dist").alias("d"), F.col("cid").alias("c")))
        .getField("c")
        .alias("cell")
    )
    comp = (
        d.join(cells, "vec_id")
        .select("cell", F.posexplode("e").alias("_p", "x"))
        .select("cell", (F.col("_p") + 1).cast("long").alias("dim"), "x")
    )
    ux = F.floor(F.col("x") * F.lit(1.0e12) + F.lit(0.5)).cast("decimal(38,0)")
    upd = comp.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(ux).alias("_sx"),
    ).select(
        "cell",
        "dim",
        F.col("n_members").cast("long").alias("n_members"),
        (
            F.col("_sx").cast("double") / F.lit(1.0e12) / F.col("n_members")
        ).alias("new_c"),
    )
    seedc = cents.select(
        F.col("cid").alias("cell"), F.posexplode("cv").alias("_p", "c0")
    ).select("cell", (F.col("_p") + 1).cast("long").alias("dim"), "c0")
    return upd.join(F.broadcast(seedc), ["cell", "dim"]).select(
        "cell",
        "dim",
        "n_members",
        "new_c",
        (F.col("new_c") - F.col("c0")).alias("shift"),
    )


# --- text analysis ----------------------------------------------------------


@register(
    "doc_length_histogram",
    """
WITH h AS (
  SELECT length(bin(greatest(n_chars, 1))) AS bucket,
         count(*)                          AS n_docs,
         CAST(SUM(n_chars) AS BIGINT)      AS total_chars,
         min(n_chars)                      AS min_chars,
         max(n_chars)                      AS max_chars
  FROM documents GROUP BY 1
)
SELECT bucket, n_docs, total_chars, min_chars, max_chars,
       CAST(SUM(n_docs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_docs
FROM h
""",
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document length histogram with cumulative counts —
    the shard/packing planner's first question ("how much of the corpus
    is short? where does the tail start?").

    Bucketing is integer-exact on BOTH engines: bucket = number of binary
    digits of n_chars (``length(bin(x))`` = floor(log2 x) + 1), avoiding
    the float log2() whose libm rounding can straddle an integer at
    powers of two. Scale: one map-side-combinable hash aggregate; the
    cumulative window runs over ≤ 64 bucket rows."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1))))
    hist = docs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return hist.withColumn("cum_docs", F.sum("n_docs").over(w))


@register(
    "text_token_count",
    f"""
SELECT
  doc_id,
  len({_TOKENS})                AS n_tokens,
  len(list_distinct({_TOKENS})) AS n_unique_tokens,
  length(text)                  AS text_len,
  len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpeish_tokens
FROM documents
""",
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens — narrow
    ops only, no shuffle."""
    return token_stats(load_table(spark, sf_dir, "documents"))


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_quality",
    f"""
SELECT
  doc_id,
  len({_TOKENS}) AS n_tokens,
  len(list_distinct({_TOKENS})) / len({_TOKENS}) AS type_token_ratio,
  len(list_filter({_TOKENS}, t -> list_contains({_STOP_SQL}, t))) / len({_TOKENS}) AS stopword_ratio,
  (length(text) - len({_TOKENS}) + 1) / len({_TOKENS}) AS mean_token_len
FROM documents
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features: lexical diversity, stopword density, mean token
    length — integer-exact numerators/denominators, reproducible ratios."""
    return quality_scores(load_table(spark, sf_dir, "documents"))


def _langid_sql() -> str:
    langs = sorted(LANG_PROFILES)
    score_cols = ", ".join(
        "len(list_filter(list_distinct({toks}), t -> list_contains([{words}], t))) AS score_{lang}".format(
            toks=_TOKENS,
            words=", ".join(f"'{w}'" for w in LANG_PROFILES[lang]),
            lang=lang,
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    cases = " ".join(
        f"WHEN score_{lang} = best AND best > 0 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH scored AS (SELECT doc_id, {score_cols} FROM documents),
withbest AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, CASE {cases} ELSE 'und' END AS pred_lang,
       CAST(best AS BIGINT) AS best_score
FROM withbest
"""


@register("text_langid", _langid_sql())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID with deterministic argmax (ties → the
    lexicographically smallest language; zero overlap → 'und')."""
    return language_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    f"""
SELECT
  doc_id,
  {hashing.rolling_hash_sql("text")} AS roll_hash,
  sha256(text)                       AS sha256_hex
FROM documents
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: order-sensitive polynomial rolling hash +
    sha2-256 digest, both bit-identical cross-engine."""
    return fingerprints(load_table(spark, sf_dir, "documents"))


# --- multimodal -------------------------------------------------------------


@register(
    "multimodal_blob_stats",
    """
SELECT
  'text'       AS modality,
  source,
  COUNT(*)     AS n_assets,
  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
  COUNT(DISTINCT sha256(text))                    AS n_distinct_payloads
FROM documents
GROUP BY source
""",
)
def q_multimodal_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column accounting: per-source byte totals and
    distinct payload digests over utf-8 payload blobs. Metadata-style scan;
    at 100 TB Parquet column pruning keeps unselected blobs unread."""
    docs = load_table(spark, sf_dir, "documents")
    assets = attach_payloads(docs)
    out = blob_stats(assets)
    return out.select(
        "modality",
        "source",
        "n_assets",
        F.col("total_bytes").cast("long").alias("total_bytes"),
        "n_distinct_payloads",
    )


@register(
    "multimodal_features",
    """
SELECT
  doc_id AS asset_id,
  'text' AS modality,
  octet_length(encode(text)) AS n_bytes,
  sha256(text)               AS payload_hash,
  'len=' || octet_length(encode(text)) || ';head='
         || lower(substr(hex(encode(text)), 1, 8)) AS feature
FROM documents
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas — the multimodal decode path with its deterministic stub
    decoder. The oracle recomputes byte length, sha-256 digest, and the
    stub feature string, so the whole Python-worker round trip (schema,
    batch shape, partition independence) is value-checked, not just
    row-counted."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.multimodal import attach_payloads, extract_features

    return extract_features(attach_payloads(docs))


@register(
    "multimodal_image_decode",
    """
SELECT doc_id  AS asset_id,
       'ppm'   AS fmt,
       8       AS width,
       6       AS height,
       155     AS n_bytes,
       list_sum(list_transform(range(0, 144),
                               i -> (doc_id * 31 + i) % 256)) / 144.0
               AS mean_pixel
FROM documents
""",
)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: deterministic binary PPM payloads are
    synthesized per document (pixel i of asset d is ``(d*31+i) mod 256``
    — genuine netpbm bytes any external tool can open), then parsed by
    the pure-numpy image decoder into relational stats. The oracle states
    the expected width/height/byte-size and the exact mean pixel in
    closed form from the pixel rule, so a wrong header parse, raster
    offset, or channel order hash-fails.

    Scale design: synth and decode are both executor-local Arrow passes
    over the id column — zero shuffles, and at 100 TB the blobs would
    stream batch-wise through the Python worker exactly like this
    (column pruning keeps them unread until the decode stage projects
    the payload)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    from ..operators.multimodal import decode_image_stats, synth_ppm_assets

    return decode_image_stats(synth_ppm_assets(docs))


@register(
    "similarity_ivf_topk",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e AS cv FROM d WHERE vec_id < 8),
dists AS (
  SELECT vec_id,
         cid,
         list_sum(list_transform(list_zip(e, cv),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
  FROM d CROSS JOIN cents
),
cells AS (
  SELECT vec_id, (min(struct_pack(d := dist, c := cid))).c AS cell
  FROM dists GROUP BY vec_id
),
assigned AS (SELECT d.vec_id, d.e, cells.cell FROM d JOIN cells USING (vec_id)),
q AS (SELECT vec_id AS query_id, e AS qe, cell FROM assigned WHERE vec_id < 10),
scored AS (
  SELECT query_id, a.vec_id, list_cosine_similarity(a.e, qe) AS cos_sim
  FROM assigned a JOIN q USING (cell) WHERE a.vec_id != query_id
)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse cells (argmin-L2 to seed centroids) +
    exact cosine re-rank within the probed cell. The oracle replays the
    identical assignment and distances, validating the inverted-file
    algorithm itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_cosine_topk(emb, n_cells=8, n_queries=10, k=5)


@register(
    "similarity_pq_topk",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sgrid AS (SELECT unnest(range(0, 8)) AS s),
sub AS (
  SELECT vec_id, s, list_slice(e, s*8 + 1, s*8 + 8) AS sv
  FROM d, sgrid
),
cents AS (
  SELECT s, vec_id AS cid, list_slice(e, s*8 + 1, s*8 + 8) AS cv
  FROM d, sgrid WHERE vec_id < 8
),
dists AS (
  SELECT sub.vec_id, sub.s, cents.cid,
         list_sum(list_transform(list_zip(sv, cv),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
  FROM sub JOIN cents ON sub.s = cents.s
),
codes AS (
  SELECT vec_id, s, (min(struct_pack(d := dist, c := cid))).c AS c
  FROM dists GROUP BY vec_id, s
),
lut AS (
  SELECT vec_id AS query_id, s, cid AS c,
         CAST(floor(dist * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS d_units
  FROM dists WHERE vec_id < 10
),
adc AS (
  SELECT l.query_id, codes.vec_id, CAST(sum(l.d_units) AS BIGINT) AS adc_units
  FROM codes JOIN lut l ON codes.s = l.s AND codes.c = l.c
  WHERE codes.vec_id <> l.query_id
  GROUP BY l.query_id, codes.vec_id
)
SELECT query_id, vec_id, adc_units, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_units ASC, vec_id ASC) AS rank
  FROM adc
) WHERE rank <= 5
""",
)
def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN search — the third retrieval scale path beside LSH
    buckets (similarity_lsh_topk) and IVF cells (similarity_ivf_topk):
    the corpus is stored as 8 product-quantizer codes per vector (the
    codebook-assignment q_embedding_pq_audit audits) and each query
    ranks the WHOLE corpus by summing 8 precomputed lookup-table
    entries instead of folding 64 dimensions per pair. The oracle
    replays codebook assignment, lookup-table build, and ADC sum
    verbatim; the per-entry integer-unit quantization (floor(d·1e9 +
    0.5)) makes the 8-way sum exact and shuffle-order-independent.
    Recall vs exact L2 is pinned in tests/test_ann_recall.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.pq_adc_topk(
        emb, dim=64, n_subspaces=8, n_cents=8, n_queries=10, k=5
    )


@register(
    "similarity_ivfpq_topk",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cellcents AS (SELECT vec_id AS ccid, e AS cv FROM d WHERE vec_id < 8),
celld AS (
  SELECT vec_id, ccid,
         list_sum(list_transform(list_zip(e, cv),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
  FROM d CROSS JOIN cellcents
),
cells AS (
  SELECT vec_id, (min(struct_pack(d := dist, c := ccid))).c AS cell
  FROM celld GROUP BY vec_id
),
sgrid AS (SELECT unnest(range(0, 8)) AS s),
sub AS (
  SELECT vec_id, s, list_slice(e, s*8 + 1, s*8 + 8) AS sv
  FROM d, sgrid
),
cents AS (
  SELECT s, vec_id AS cid, list_slice(e, s*8 + 1, s*8 + 8) AS cv
  FROM d, sgrid WHERE vec_id < 8
),
dists AS (
  SELECT sub.vec_id, sub.s, cents.cid,
         list_sum(list_transform(list_zip(sv, cv),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
  FROM sub JOIN cents ON sub.s = cents.s
),
codes AS (
  SELECT vec_id, s, (min(struct_pack(d := dist, c := cid))).c AS c
  FROM dists GROUP BY vec_id, s
),
lut AS (
  SELECT vec_id AS query_id, s, cid AS c,
         CAST(floor(dist * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS d_units
  FROM dists WHERE vec_id < 10
),
adc AS (
  SELECT l.query_id, co.vec_id, CAST(sum(l.d_units) AS BIGINT) AS adc_units
  FROM codes co
  JOIN cells cc ON co.vec_id = cc.vec_id
  JOIN lut l ON co.s = l.s AND co.c = l.c
  JOIN cells qc ON l.query_id = qc.vec_id AND qc.cell = cc.cell
  WHERE co.vec_id <> l.query_id
  GROUP BY l.query_id, co.vec_id
)
SELECT query_id, vec_id, adc_units, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_units ASC, vec_id ASC) AS rank
  FROM adc
) WHERE rank <= 5
""",
)
def q_similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN — the production retrieval shape (FAISS
    IVFADC): the coarse half prunes the candidate set to the probed
    cell's inverted list (similarity_ivf_topk's assignment, nprobe=1),
    the fine half ranks those candidates by the PQ-ADC lookup-table
    sum (similarity_pq_topk's codes/LUT, integer 1e-9 units). At
    100 TB the two multiply: ~1/n_cells of the corpus read at ~3% of
    the bytes. The oracle replays cell assignment, codebook
    assignment, LUT build, and the cell-filtered ADC sum verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_pq_topk(
        emb,
        dim=64,
        n_subspaces=8,
        n_cents=8,
        n_cells=8,
        n_queries=10,
        k=5,
    )


@register("similarity_ivfpq_trained", _ivfpq_trained_oracle())
def q_similarity_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED IVF-PQ ANN with multi-probe (VERDICT r10 item 1) —
    similarity_ivfpq_topk with its two quality knobs turned: the coarse
    cells AND the per-subspace PQ codebooks are Lloyd-trained (two
    fixed k-means iterations from the training-free seeds —
    kmeans_update_step's single step iterated, exact integer-unit
    centroid means so training is bitwise cross-engine), and each query
    probes its 2 nearest cells instead of 1. On the near-random
    synthetic corpus this lifts recall@5 vs exact L2 from 0.20
    (untrained, nprobe=1) to ~0.30 — the trained-quantizer lift a FAISS
    user gets from index training; the recall curve is pinned in
    tests/test_ann_recall.py. Scale: training adds 2 narrow
    scan+partial-agg rounds with O(k·dim) driver state; search reads
    ~nprobe/n_cells of the corpus at ~3% of the bytes. The oracle
    replays BOTH trainings and the multi-probe ADC search end-to-end —
    retrieval quality machinery, not just shape, under the value-hash
    gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_pq_trained_topk(
        emb,
        dim=64,
        n_subspaces=8,
        n_cents=8,
        n_cells=8,
        n_queries=10,
        k=5,
        iters=2,
        nprobe=2,
    )


@register("ann_recall_report", _ann_recall_oracle())
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval QUALITY as an oracle-checked artifact: per probe
    query, how many of the exact squared-L2 top-5 neighbors the
    TRAINED IVF-PQ index (similarity_ivfpq_trained's exact
    configuration) returns — recall@5, the number tests/
    test_ann_recall.py pins, promoted from a pytest assertion to a
    driver-hash-checked result. The oracle replays the trained index
    via the SHARED CTE chain plus an exact brute-force yardstick, so a
    drift in training, probing, or ADC ranking shows up as a value
    mismatch here even if the top-k query itself still passes.

    Scale: the yardstick half is the deliberate O(N·Q·D) brute force —
    bounded by the 10-query probe set, the same shape as
    similarity_topk; the index half reads ~nprobe/n_cells of the
    corpus at ~3% of the bytes. Output: query_id, n_hits, k, recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx_top = sim_ops.ivf_pq_trained_topk(
        emb,
        dim=64,
        n_subspaces=8,
        n_cents=8,
        n_cells=8,
        n_queries=10,
        k=5,
        iters=2,
        nprobe=2,
    )
    return _recall_vs_exact(emb, approx_top)


@register("similarity_ivfpq_residual", _ivfpq_residual_oracle(iters=_RES_ITERS))
def q_similarity_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoded trained IVF-PQ (VERDICT r11 item 1 — FAISS
    IVFADC's default): similarity_ivfpq_trained with PQ codes trained
    on and encoding the residual ``v − centroid(cell(v))`` instead of
    the raw vector, with the ADC LUT built per (query, probed cell)
    from the query's own cell-dependent residual. Recall@5 lifts to
    0.34 vs trained-raw's 0.30 (see _RES_ITERS). Runs through the
    index-lifecycle machinery (operators/similarity.py
    train_ann_index → ann_index_search), so this registry entry IS the
    persistable-index path with training inlined. The oracle replays
    coarse training, residual codebook training, per-cell LUTs and the
    multi-probe ADC end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_pq_residual_topk(
        emb,
        dim=64,
        n_subspaces=8,
        n_cents=8,
        n_cells=8,
        n_queries=10,
        k=5,
        iters=_RES_ITERS,
        nprobe=2,
    )


def _refined_search(emb: DataFrame) -> DataFrame:
    """Inline-trained residual index + ADC-shortlist exact re-rank at
    the registered knobs — shared by the refine search entry and its
    recall twin (one definition, two driver-hash-checked views)."""
    index = sim_ops.train_ann_index(
        emb, dim=64, n_subspaces=8, n_cents=8, n_cells=8, iters=_RES_ITERS
    )
    q = (
        emb.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            as_double_array("embedding").alias("_e"),
        )
    )
    return sim_ops.ann_index_search_refined(
        q, index, emb, dim=64, n_subspaces=8, nprobe=2, k=5, refine_factor=4
    )


@register("similarity_ivfpq_refine", _ivfpq_refine_oracle())
def q_similarity_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist + exact re-rank over the residual trained index
    (VERDICT r12 item 2 — FAISS IndexRefineFlat): ann_index_search
    retrieves the top refine_factor·k candidates by approximate ADC
    distance, then exact squared-L2 on ONLY those candidates' raw
    vectors re-ranks the shortlist (1e-9 integer units, fully
    deterministic). The standard public recall lever after residual
    encoding; the oracle replays training, ADC shortlist, and the
    exact re-rank end-to-end."""
    return _refined_search(load_table(spark, sf_dir, "embeddings"))


@register("ann_recall_refine", _ann_recall_refine_oracle())
def q_ann_recall_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall_residual's REFINE twin: per probe query, recall@5 of
    the refined (shortlist-re-ranked) search vs the exact squared-L2
    yardstick — the refine-vs-residual lift (VERDICT r12 item 2 'Done'
    condition) is the difference between two independently
    driver-hash-checked results."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_vs_exact(emb, _refined_search(emb))


@register("ann_search_filtered", _ivfpq_filtered_oracle())
def q_ann_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN search (FAISS ``IDSelector`` / per-tenant vector
    search — Milvus/Vespa's "filtered search"): each probe query asks
    for nearest neighbors WITHIN ITS OWN label class, and the predicate
    is applied to the inverted-list scan BEFORE the ADC top-k, so all k
    result slots satisfy the filter (pre-filtering; post-filtering an
    unfiltered top-k silently under-fills — the classic filtered-ANN
    mistake). The metadata column rides the codes relation as a
    co-located join (both keyed by vec_id — at 100 TB the label is
    stored alongside the codes at index-build time), the per-query
    requested value rides the broadcast LUT, and candidate pruning
    happens before any per-candidate arithmetic. Oracle replays
    training, the multi-probe ADC, and the label predicate end-to-end.
    Reference scope: /root/reference/main.py has no vector surface;
    this extends the ANN family (SURVEY §2.11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = sim_ops.train_ann_index(
        emb, dim=64, n_subspaces=8, n_cents=8, n_cells=8, iters=_RES_ITERS
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
        F.col("label").alias("_qattr"),
    )
    return sim_ops.ann_index_search(
        q,
        index,
        dim=64,
        n_subspaces=8,
        nprobe=2,
        k=5,
        attrs=emb.select("vec_id", "label"),
    )


def _kmeanspar_seed_df(d: DataFrame) -> DataFrame:
    """k-means‖ seeds at the registered config — one definition for the
    trained entry and the distortion audit."""
    return sim_ops.kmeanspar_seeds(
        d,
        "vec_id",
        "_e",
        8,
        rounds=_KMPAR_ROUNDS,
        oversample=_KMPAR_ELL,
        t_reduce=_KMPAR_T,
    )


@register("lloyd_train_kmeanspar", _lloyd_kmeanspar_oracle())
def q_lloyd_train_kmeanspar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse quantizer trained from k-means‖ seeds (Bahmani et al.,
    VLDB 2012; VERDICT r12 item 3): min-id start, 2 deterministic
    hash-gated oversampling passes (ℓ=16), region-weighted candidates
    reduced driver-side by weighted Lloyd, then the standard 2-iteration
    Lloyd training from those seeds. Output is the trained centroid set
    exploded to (cell, pos, component) — bitwise cross-engine (the
    oracle replays seeding, reduce, and training end-to-end)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Round-13: one materialization feeds seeding (2 rounds x 2 scans),
    # the weight pass, and both Lloyd iterations (see _training_set).
    d = sim_ops._training_set(
        emb.select("vec_id", as_double_array("embedding").alias("_e"))
    )
    cents = sim_ops.lloyd_train(
        d, "vec_id", "_e", 8, 2, seeds=_kmeanspar_seed_df(d)
    )
    return cents.select(
        F.col("_ccid").alias("cell"),
        F.posexplode("_cv").alias("pos", "component"),
    ).select("cell", F.col("pos").cast("long").alias("pos"), "component")


@register("kmeanspar_distortion_audit", _kmeanspar_distortion_oracle())
def q_kmeanspar_distortion_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The k-means‖ seeding lift as four driver-hashed quantization
    costs: first-k vs k-means‖ seeds at 0 and 2 Lloyd iterations.
    Measured (sf0.01): k-means‖ seeds start 32% better (547.4e9 vs
    810.7e9 units) and both inits converge to the same plateau after
    training (470.1e9 vs 467.2e9, ±0.6% — the structure-free corpus
    has no bad local minima for first-k to fall into; the ‖-init's
    value at 100 TB is reaching the plateau with fewer corpus-wide
    Lloyd passes, each a full scan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Round-13: the audit replays four trainings + four distortion scans
    # over the same projected input — one materialization (_training_set).
    d = sim_ops._training_set(
        emb.select("vec_id", as_double_array("embedding").alias("_e"))
    )
    kp = _kmeanspar_seed_df(d)
    out = None
    for init, seeds in (("first_k", None), ("kmeans_par", kp)):
        for it in (0, 2):
            cents = sim_ops.lloyd_train(
                d, "vec_id", "_e", 8, it, seeds=seeds
            )
            row = sim_ops.quantization_distortion(d, cents).select(
                F.lit(init).alias("init"),
                F.lit(it).cast("long").alias("iters"),
                "distortion_units",
            )
            out = row if out is None else out.unionAll(row)
    return out


def _recall_vs_exact(
    emb: DataFrame, approx_top: DataFrame, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Per-query recall@k of an approximate (query_id, vec_id) top-k set
    against the exact squared-L2 yardstick over the probe queries — one
    definition shared by every recall exhibit (trained-raw, residual,
    staleness), mirroring the oracle side's _recall_tail."""
    from ..functions.vectorops import as_double_array, sqdist

    d = emb.select("vec_id", as_double_array("embedding").alias("_v"))
    q = d.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("_q")
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", sqdist(F.col("_v"), F.col("_q")).alias("_d2")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("vec_id").asc()
    )
    exact_top = (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .select("query_id", "vec_id")
    )
    marked = approx_top.select("query_id", "vec_id", F.lit(1).alias("_m"))
    return (
        exact_top.join(marked, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias("_hits"))
        .select(
            "query_id",
            F.col("_hits").cast("long").alias("n_hits"),
            F.lit(k).cast("long").alias("k"),
            (F.col("_hits").cast("double") / F.lit(float(k))).alias("recall"),
        )
    )


@register("ann_recall_residual", _ann_recall_residual_oracle())
def q_ann_recall_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall_report's RESIDUAL twin: per probe query, recall@5 of
    the residual-encoded trained index vs the exact squared-L2
    yardstick — so the residual-vs-raw recall lift (VERDICT r11 item 1
    'Done' condition) is the difference between two independently
    driver-hash-checked results, not a pytest-only claim."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx_top = sim_ops.ivf_pq_residual_topk(
        emb,
        dim=64,
        n_subspaces=8,
        n_cents=8,
        n_cells=8,
        n_queries=10,
        k=5,
        iters=_RES_ITERS,
        nprobe=2,
    )
    return _recall_vs_exact(emb, approx_top)


@register(
    "ann_index_append_audit",
    ",\n".join(
        _ivfpq_residual_ctes(iters=_RES_ITERS, train_filter=_ANN_BASE_FILTER)
    )
    + """
SELECT query_id, vec_id, adc_units, CAST(rank AS BIGINT) AS rank,
       vec_id % 10 >= 8 AS from_append
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_units ASC, vec_id ASC) AS rank
  FROM adc
) WHERE rank <= 5
""",
)
def q_ann_index_append_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index lifecycle (VERDICT r11 item 2): the index trains on
    the BASE slice (vec_id % 10 < 8) and the remaining 20% of vectors
    append through the frozen-index path — encode_into_index assigns
    and residual-encodes them against the trained centroids/codebooks
    with NO retraining (the dedup_incremental_probe delta shape applied
    to retrieval: at 100 TB the index trains offline once and the
    corpus grows by deltas). Search runs over the GROWN index;
    ``from_append`` marks results that entered via the append path —
    appended vectors must be first-class search citizens. The oracle
    replays base-slice training + frozen full-corpus encode, which
    equals train+append exactly because assignment/encoding are
    deterministic functions of the frozen tables (the two-phase pytest
    pins append ≡ rebuild-encode row-for-row)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            as_double_array("embedding").alias("_e"),
        )
    )
    return sim_ops.ann_index_search(
        q, _grown_index(emb), dim=64, n_subspaces=8, nprobe=2, k=5
    ).withColumn("from_append", F.col("vec_id") % 10 >= 8)


def _grown_index(emb: DataFrame) -> dict[str, DataFrame]:
    """Base-slice-trained index grown by the frozen append path — the
    stale-index serving state both lifecycle audits
    (ann_index_append_audit, ann_index_staleness) interrogate."""
    base = emb.where(F.expr(_ANN_BASE_FILTER))
    appended = emb.where(~F.expr(_ANN_BASE_FILTER))
    index = sim_ops.train_ann_index(
        base, dim=64, n_subspaces=8, n_cents=8, n_cells=8, iters=_RES_ITERS
    )
    new_cells, new_codes = sim_ops.encode_into_index(
        appended, index, dim=64, n_subspaces=8
    )
    return {
        "centroids": index["centroids"],
        "codebook": index["codebook"],
        "cells": index["cells"].unionByName(new_cells),
        "codes": index["codes"].unionByName(new_codes),
    }


#: Compaction target (codes rows per output file): 1024 yields ~4 bins
#: at sf0.01 (4,000 code rows) and ~16 at sf0.1 — multiple bins at
#: every test SF, so the plan is never degenerate.
_ANN_COMPACT_TARGET = 1024


def _ann_compact_oracle() -> str:
    """ann_index_compact's oracle: the appended-index chain (search
    semantics are PRE-compaction by definition — compaction must be
    invisible to reads), the top-k cut, and the deterministic file-bin
    plan joined onto each result row. A hash match IS the
    read-equivalence proof: Spark searched the physically rewritten
    layout; the oracle replays the un-compacted index."""
    plan = f"""plan AS (
  SELECT cell, CAST(coalesce(prior, 0) // {_ANN_COMPACT_TARGET} AS BIGINT)
           AS file_bin
  FROM (
    SELECT cell,
           SUM(n_rows) OVER (ORDER BY cell
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prior
    FROM (SELECT ce.cell, count(*) AS n_rows
          FROM codes co JOIN cells ce ON co.vec_id = ce.vec_id
          GROUP BY ce.cell)
  )
)"""
    parts = _ivfpq_residual_ctes(
        iters=_RES_ITERS, train_filter=_ANN_BASE_FILTER
    ) + [plan.replace(" AS (", " AS MATERIALIZED (", 1)]
    return ",\n".join(parts) + """
SELECT t.query_id, t.vec_id, t.adc_units, CAST(t.rank AS BIGINT) AS rank,
       ce.cell, p.file_bin
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_units ASC, vec_id ASC) AS rank
  FROM adc
) t
JOIN cells ce ON ce.vec_id = t.vec_id
JOIN plan p ON p.cell = ce.cell
WHERE t.rank <= 5
"""


@register("ann_index_compact", _ann_compact_oracle())
def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-append COMPACTION (VERDICT r12 item 7 — lakehouse
    OPTIMIZE applied to the ANN index): the base-trained index grows by
    the frozen append path (one codes fragment per append), then the
    compactor packs whole cells into ~target-sized files by the
    compaction_plan binning and rewrites the codes table one file per
    bin. The search runs over the PHYSICALLY REWRITTEN layout; the
    oracle replays the un-compacted appended index — the hash match is
    the bitwise read-equivalence proof, with each result row carrying
    the cell and planned file_bin that served it."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    grown = _grown_index(emb)
    path = tempfile.mkdtemp(prefix="ann_compact_")
    compacted = sim_ops.compact_ann_index(
        spark, grown, path, target_rows=_ANN_COMPACT_TARGET
    )
    plan = sim_ops.ann_compaction_plan(
        compacted, target_rows=_ANN_COMPACT_TARGET
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
    )
    res = sim_ops.ann_index_search(
        q, compacted, dim=64, n_subspaces=8, nprobe=2, k=5
    )
    return (
        res.join(compacted["cells"], "vec_id")
        .join(F.broadcast(plan.select("cell", "file_bin")), "cell")
        .select("query_id", "vec_id", "adc_units", "rank", "cell", "file_bin")
    )


@register("ann_index_staleness", _ann_staleness_oracle())
def q_ann_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index STALENESS audit (the remaining clause of VERDICT r11
    item 2): recall@5 of the frozen base-trained index serving the
    GROWN corpus (ann_index_append_audit's exact state), measured
    against the exact squared-L2 yardstick over that grown corpus. Read
    next to ann_recall_residual — the retrained index on the same
    corpus — the per-query difference IS the staleness cost of serving
    appends without retraining, as two independently driver-hash-
    checked results (the residual-vs-raw lift pattern). At 100 TB this
    is the retrain-scheduling signal: retrain when the stale index's
    recall drifts below the retrained yardstick by more than the
    serving SLA tolerates."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
    )
    approx_top = sim_ops.ann_index_search(
        q, _grown_index(emb), dim=64, n_subspaces=8, nprobe=2, k=5
    )
    return _recall_vs_exact(emb, approx_top)


@register("ann_index_persist_search", _ivfpq_residual_oracle(iters=_RES_ITERS))
def q_ann_index_persist_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index PERSISTENCE (VERDICT r11 item 2): train the residual
    index, write its four tables to parquet, load them back, and search
    the LOADED index — the train-offline / serve-frozen operating mode.
    The oracle is similarity_ivfpq_residual's verbatim: parquet
    round-trips IEEE doubles and integer codes bitwise, so persistence
    must be invisible to the value hash — a serialization drift
    (schema, precision, row loss) fails the driver gate."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    index = sim_ops.train_ann_index(
        emb, dim=64, n_subspaces=8, n_cents=8, n_cells=8, iters=_RES_ITERS
    )
    path = tempfile.mkdtemp(prefix="ann_index_")
    sim_ops.write_ann_index(index, path)
    loaded = sim_ops.read_ann_index(spark, path)
    from ..functions.vectorops import as_double_array

    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double_array("embedding").alias("_e"),
    )
    return sim_ops.ann_index_search(
        q, loaded, dim=64, n_subspaces=8, nprobe=2, k=5
    )


@register("dedup_semantic_cells", _semantic_dedup_oracle())
def q_dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, VERDICT r11 item 7): the
    Lloyd-trained ANN coarse quantizer reused as the dedup blocker —
    embeddings cluster into trained cells, within-cell cosine pairs
    above the threshold mark semantic duplicates, and each semantic
    neighborhood keeps its lowest id (operators/similarity.py::
    semantic_dedup_cells — composes the lloyd_train and
    embedding_near_dup machines; never all-pairs). The synthetic
    embeddings are near-random (max pairwise cosine ≈ 0.48), so the
    demonstration threshold is 0.25 — a production run uses the same
    plan at SemDeDup's ~0.95+. Output: every vector with its cell and
    kept/dropped verdict, so both the clustering AND the survivorship
    sit under the value hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.semantic_dedup_cells(
        emb, n_cells=8, iters=2, threshold=0.25
    )


@register("sample_cell_balanced", _cell_balanced_sample_oracle())
def q_sample_cell_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsampling — the cluster-proportional curation
    step between dedup and training: Lloyd-trained cells cap each
    semantic neighborhood at 32 rows of the output, chosen by the
    deterministic md5-of-id order (dataset_shuffle_order's key), so a
    downsample cannot be dominated by the corpus's densest regions
    (operators/similarity.py::cell_balanced_sample — composes the
    lloyd_train blocker with the shuffle-order selection; the
    complement of dedup_semantic_cells' within-cell removal). The rank
    and key are in the output, so the driver hash checks the SELECTION
    itself, not just per-cell counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.cell_balanced_sample(
        emb, n_cells=8, iters=2, quota=32
    )


@register(
    "text_tfidf",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT
  doc_id,
  token,
  tf,
  df,
  CAST(tf AS DOUBLE) * (CAST((SELECT n_docs FROM n) AS DOUBLE) / CAST(df AS DOUBLE))
    AS tf_idf_ratio
FROM tf JOIN df USING (token)
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF table: term frequency x corpus rarity per (doc, token).

    The rarity factor is the raw N/df ratio rather than its logarithm —
    transcendental functions are libm-dependent and would break bitwise
    cross-engine hashing; monotonicity (hence ranking) is identical. Two
    shuffles (tf groupBy, df groupBy) + one equi-join on token; df and
    n_docs are broadcast-sized at any corpus scale (vocabulary ≪ corpus).
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("tf_idf_ratio"),
        )
    )


@register(
    "multimodal_meta_entries",
    """
SELECT doc_id AS asset_id, 'modality' AS meta_key, 'text' AS meta_value
FROM documents
UNION ALL
SELECT doc_id AS asset_id, 'source' AS meta_key, source AS meta_value
FROM documents
""",
)
def q_multimodal_meta_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType metadata surface: explode the multimodal meta map into
    (key, value) rows (map_entries + inline explode). Demonstrates the
    map column family (SURVEY §1.4) — the blob column is never touched,
    so the scan stays metadata-only at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    assets = attach_payloads(docs)
    return assets.select(
        "asset_id",
        F.explode(F.col("meta")).alias("meta_key", "meta_value"),
    )


def _clusters_oracle_sql() -> str:
    """Connected components over the MinHash near-dup graph: the recursive
    transitive-closure twin of the engine's label propagation (safe at
    oracle scale — components are near-dup clusters, i.e. tiny)."""
    return f"""
WITH RECURSIVE {_minhash_sql_cte().lstrip()},
bands AS ({_minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list(DISTINCT sh) AS units, count(DISTINCT sh) AS n_units
  FROM shg GROUP BY doc_id
), pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sets sa ON sa.doc_id = id_a
  JOIN sets sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.units, sb.units))
      / (sa.n_units + sb.n_units - len(list_intersect(sa.units, sb.units))) >= 0.7
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""


@register("dedup_clusters", _clusters_oracle_sql())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs -> connected components by
    min-label propagation; every document gets cluster_id = smallest
    member of its component (singletons cluster with themselves). The
    oracle recomputes the same graph and closes it with a recursive CTE."""
    from ..operators.dedup import minhash_components

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return minhash_components(docs, threshold=0.7)


@register("dedup_clusters_star", _clusters_oracle_sql())
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as dedup_clusters (identical oracle), computed by
    alternating large-star/small-star contraction instead of label
    propagation — rounds scale with log² of component size, not diameter
    (operators.dedup.connected_components_star)."""
    from ..operators.dedup import connected_components_star, minhash_components

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return minhash_components(docs, threshold=0.7, cc_fn=connected_components_star)


@register(
    "text_normalize",
    r"""
SELECT
  doc_id,
  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                      ' +', ' ', 'g'))                       AS norm_text,
  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')))               AS norm_len
FROM documents
""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-cleaning normalization (lowercase, strip non-alphanumerics,
    collapse whitespace) — the standard pre-tokenization pass of an LLM
    data pipeline. ASCII character classes only, so Java and RE2 regex
    semantics agree byte-for-byte. Narrow ops, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_len"),
    )


# --- markup stripping (round 7) ---------------------------------------------

#: The synthetic corpus is markup-free, so the RENDER stage (identical
#: expression in both engines) reconstructs the web-crawl input shape —
#: real tags, a script block, attribute noise, HTML entities — from the
#: row's own columns; the STRIP stage is the operator under test. Both
#: stages are ASCII-only, so Java and RE2 regex semantics agree
#: byte-for-byte (text_normalize rule).
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&amp;", "&"),
)

_HTML_RENDER_SQL = (
    "'<div id=\"doc-' || CAST(doc_id AS VARCHAR) || '\" class=\"' || lang"
    " || '\"><h1>' || source || '</h1><script>var x = 1;</script><p>' || text"
    " || '</p><br/>&nbsp;<a href=\"https://example.com/'"
    " || CAST(doc_id AS VARCHAR)"
    " || '?a=1&amp;b=2\">more &lt;here&gt;</a></div>'"
)


def _html_render_col():
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit('<div id="doc-'),
        did,
        F.lit('" class="'),
        F.col("lang"),
        F.lit('"><h1>'),
        F.col("source"),
        F.lit("</h1><script>var x = 1;</script><p>"),
        F.col("text"),
        F.lit('</p><br/>&nbsp;<a href="https://example.com/'),
        did,
        F.lit('?a=1&amp;b=2">more &lt;here&gt;</a></div>'),
    )


def _strip_markup_col(c):
    """Tag/entity/whitespace normalization: drop script blocks wholesale,
    drop remaining tags, decode the common entities (&amp; LAST so
    double-encoded text is not double-decoded), collapse whitespace."""
    c = F.regexp_replace(c, r"<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, "<[^>]*>", " ")
    for ent, ch in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, " +", " "))


def _strip_markup_sql(expr: str) -> str:
    s = f"regexp_replace({expr}, '<script[^>]*>.*?</script>', ' ', 'g')"
    s = f"regexp_replace({s}, '<[^>]*>', ' ', 'g')"
    for ent, ch in _ENTITIES:
        s = f"replace({s}, '{ent}', '{ch.replace(chr(39), chr(39) * 2)}')"
    return f"trim(regexp_replace({s}, ' +', ' ', 'g'))"


@register(
    "text_strip_markup",
    f"""
WITH rendered AS (
  SELECT doc_id, source, text, {_HTML_RENDER_SQL} AS html FROM documents
),
c AS (
  SELECT doc_id, source, text, html,
         {_strip_markup_sql("html")} AS clean
  FROM rendered
)
SELECT doc_id,
       md5(clean)                                      AS clean_md5,
       CAST(length(clean) AS BIGINT)                   AS clean_len,
       CAST(length(html) - length(clean) AS BIGINT)    AS removed_chars,
       clean = trim(regexp_replace(
                 source || ' ' || text || ' more <here>', ' +', ' ', 'g'))
                                                       AS roundtrip_ok
FROM c
""",
)
def q_text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/markup stripping (VERDICT r6 item 5) — the web-crawl
    corpus-prep stage ahead of every quality gate: drop <script> blocks
    wholesale, drop remaining tags, decode HTML entities, collapse
    whitespace. The md5 column proves both engines produced the
    IDENTICAL cleaned byte stream (the denylist_redact discipline), and
    ``roundtrip_ok`` asserts the strip recovered exactly the visible
    text that was rendered in. Scan-shaped: row-local regex + hash,
    zero shuffles — at 100 TB this is one pass over the corpus."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    html = _html_render_col()
    clean = _strip_markup_col(html)
    expected = F.trim(
        F.regexp_replace(
            F.concat(
                F.col("source"), F.lit(" "), F.col("text"), F.lit(" more <here>")
            ),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(clean.cast("binary")).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_len"),
        (F.length(html) - F.length(clean)).cast("long").alias("removed_chars"),
        (clean == expected).alias("roundtrip_ok"),
    )


@register(
    "corpus_prep_markup",
    f"""
WITH rendered AS (
  SELECT doc_id, {_HTML_RENDER_SQL} AS html FROM documents
),
c AS (
  SELECT doc_id, {_strip_markup_sql("html")} AS clean FROM rendered
),
deduped AS (
  SELECT min(doc_id) AS doc_id FROM c GROUP BY sha256(clean)
),
toks AS (
  SELECT c.doc_id, clean, string_split(clean, ' ') AS t
  FROM c JOIN deduped USING (doc_id)
),
kept AS (
  SELECT doc_id, clean, len(t) AS n_tokens
  FROM toks
  WHERE len(t) >= 30
    AND len(list_distinct(t)) / len(t) >= 0.3
    AND len(list_filter(t, x -> list_contains({_STOP_SQL}, x))) / len(t) <= 0.5
),
assigned AS (
  SELECT doc_id, n_tokens,
         CASE WHEN {hashing.rolling_hash_sql("clean")} % 100 < 80 THEN 'train'
              WHEN {hashing.rolling_hash_sql("clean")} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM kept
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id
FROM assigned
GROUP BY split
""",
)
def q_corpus_prep_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_prep_pipeline variant with the markup stage composed in
    FRONT (VERDICT r6 item 5): render the web-crawl input shape → strip
    markup → fingerprint-dedup on the CLEANED text → quality gate on
    the cleaned tokens → content-hash split → per-split accounting.
    Every stage reuses its standalone operator's semantics, so the
    composition is oracle-checked end-to-end. Shuffle budget is
    unchanged from corpus_prep_pipeline (dedup groupBy + final 3-group
    aggregate); the strip is scan-local."""
    docs = load_table(spark, sf_dir, "documents")
    clean = _strip_markup_col(_html_render_col())
    c = docs.select("doc_id", clean.alias("clean"))
    deduped = (
        c.groupBy(F.sha2("clean", 256))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = F.split(F.col("clean"), " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n
    kept = (
        c.join(deduped, "doc_id")
        .where((n >= 30) & (ttr >= 0.3) & (stop <= 0.5))
        .select("doc_id", "clean", n.alias("n_tokens"))
    )
    h = hashing.rolling_hash("clean") % 100
    split = F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    return (
        kept.select("doc_id", "n_tokens", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@register(
    "text_chunks",
    f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(greatest(len(ts) - 10, 1) / 30.0) AS BIGINT)))
           AS chunk_id,
         ts
  FROM toks
)
SELECT
  doc_id,
  chunk_id,
  array_to_string(ts[chunk_id*30 + 1 : chunk_id*30 + 40], ' ') AS chunk_text,
  least(len(ts) - chunk_id*30, 40)                             AS n_tokens
FROM chunks
""",
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: overlapping token windows (40 tokens,
    stride 30 → 10-token overlap) exploded to one row per chunk — the
    standard context-window packing step of an LLM data pipeline. Narrow
    explode, no shuffle; chunk counts are integer arithmetic so the
    oracle replays them exactly."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.greatest(F.size(ts) - 10, F.lit(1)) / 30.0).cast("long")
    chunk_id = F.explode(F.sequence(F.lit(0), n_chunks - 1))
    return (
        docs.select("doc_id", ts.alias("ts"), chunk_id.alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            F.array_join(
                F.slice(F.col("ts"), F.col("chunk_id") * 30 + 1, 40), " "
            ).alias("chunk_text"),
            F.least(
                F.size("ts") - F.col("chunk_id") * 30, F.lit(40)
            ).cast("long").alias("n_tokens"),
        )
    )


@register(
    "pack_sequences",
    f"""
WITH t AS (
  SELECT doc_id, len({_TOKENS}) AS n
  FROM documents
  WHERE len({_TOKENS}) > 0
), c AS (
  SELECT doc_id, n,
    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS strt
  FROM t
), seg AS (
  SELECT doc_id, n, strt,
         unnest(range(strt // 256, (strt + n - 1) // 256 + 1)) AS chunk_id
  FROM c
)
SELECT doc_id, chunk_id,
  greatest(chunk_id * 256, strt) - strt            AS doc_tok_start,
  greatest(chunk_id * 256, strt) - chunk_id * 256  AS chunk_tok_start,
  least((chunk_id + 1) * 256, strt + n) - greatest(chunk_id * 256, strt)
                                                   AS seg_len
FROM seg
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate-then-chunk layout of the corpus into
    256-token context windows (one row per document↔chunk segment). The
    global running offset is a two-phase distributed prefix sum — see
    operators.packing for the scale argument; the oracle states the same
    semantics as one window cumsum."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=256)


@register(
    "vocab_top_tokens",
    f"""
SELECT token, cnt, rank FROM (
  SELECT token, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rank
  FROM (SELECT unnest({_TOKENS}) AS token FROM documents)
  GROUP BY token
) WHERE rank <= 100
""",
)
def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency with deterministic
    tie-break. The top-k itself is ``orderBy().limit(100)`` — Spark plans
    TakeOrderedAndProject: each task keeps a local 100-row heap and only
    the heaps travel, so no stage ever sorts or windows the full
    vocabulary (a web-scale vocab is ~10⁸ tokens — round 1's global
    row_number window pushed all of it through one partition). The rank
    window then runs over exactly the 100 survivors — O(k), not O(vocab)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(100)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@register(
    "sample_systematic",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE {hashing.rolling_hash_sql("text")} % 20 = 0
""",
)
def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~5% corpus sample keyed on CONTENT hash (mod-20 of the
    rolling hash): the sample is stable across reruns, partitionings, and
    engines — unlike rand()-based sampling — and membership survives
    re-ingestion of the same document. Narrow filter, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(hashing.rolling_hash("text") % 20 == 0).select(
        "doc_id", "lang", "source"
    )


@register(
    "dataset_split",
    f"""
WITH assigned AS (
  SELECT doc_id,
         CASE WHEN {hashing.rolling_hash_sql("text")} % 100 < 80 THEN 'train'
              WHEN {hashing.rolling_hash_sql("text")} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM assigned GROUP BY split
""",
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (80/10/10) by content hash —
    the assignment is a pure function of the document text, so identical
    documents land in the same split on every engine and every rerun (no
    leakage from re-shuffled rand() splits)."""
    docs = load_table(spark, sf_dir, "documents")
    h = hashing.rolling_hash("text") % 100
    assigned = docs.select(
        "doc_id",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


@register(
    "quality_filter",
    f"""
WITH scored AS (
  SELECT doc_id, lang,
         len({_TOKENS}) AS n_tokens,
         len(list_distinct({_TOKENS})) / len({_TOKENS}) AS ttr,
         len(list_filter({_TOKENS}, t -> list_contains({_STOP_SQL}, t)))
           / len({_TOKENS}) AS stop_ratio
  FROM documents
)
SELECT
  lang,
  count(*)                                        AS n_docs,
  CAST(SUM(CASE WHEN n_tokens >= 30 AND ttr >= 0.3 AND stop_ratio <= 0.5
                THEN 1 ELSE 0 END) AS BIGINT)     AS n_pass,
  min(doc_id)                                     AS min_doc_id
FROM scored
GROUP BY lang
""",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed quality gate: the pipeline form of text_quality — length,
    lexical-diversity, and stopword-density thresholds folded into
    per-language pass counts. The thresholds run on integer-exact ratios,
    so the gate is reproducible across engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n
    scored = docs.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        ttr.alias("ttr"),
        stop.alias("stop_ratio"),
    )
    passes = (
        (F.col("n_tokens") >= 30)
        & (F.col("ttr") >= 0.3)
        & (F.col("stop_ratio") <= 0.5)
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(passes, 1).otherwise(0)).alias("n_pass"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register(
    "similarity_topk_vectorized",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id, list_cosine_similarity(e, qe) AS cos_sim
  FROM d, q WHERE vec_id != query_id
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
""",
)
def q_similarity_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized brute-force cosine top-10 (numpy matmul per batch)
    — the throughput kernel for 100 TB scoring; same ranks as
    similarity_topk.

    Oracle strategy: BLAS summation order differs from a sequential fold
    in low-order float bits, so the raw score can't hash-match — the
    oracle checks (query_id, vec_id, rank) only, which IS the operator's
    contract (who is in the top-k, in what order). Bitwise score parity
    for the sequential kernel is covered by similarity_topk's oracle;
    rank parity between the two kernels by
    tests/test_similarity_vectorized.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim_ops.cosine_topk_vectorized(emb, queries, k=10).select(
        "query_id", "vec_id", "rank"
    )


@register(
    "profile_documents",
    f"""
SELECT
  count(*)                                          AS n_rows,
  count(DISTINCT lang)                              AS n_langs,
  count(DISTINCT source)                            AS n_sources,
  CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT)
                                                    AS n_empty_text,
  min(doc_id)                                       AS min_doc_id,
  max(doc_id)                                       AS max_doc_id,
  min(length(text))                                 AS min_len,
  max(length(text))                                 AS max_len,
  CAST(SUM(CAST(length(text) AS DECIMAL(30,0))) AS BIGINT) AS total_chars
FROM documents
""",
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling in one pass: row/cardinality/null/extent statistics
    for the corpus — the pre-flight check of any ingestion pipeline. All
    exact aggregates (count/min/max/integer sums), single scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)
        ).alias("n_empty_text"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
        F.sum(F.length("text").cast("decimal(30,0)")).cast("long").alias("total_chars"),
    )


@register(
    "multimodal_frame_sample",
    """
WITH framed AS (
  SELECT doc_id AS asset_id, text,
         unnest(range(0, CAST(greatest(ceil(length(text) / 32.0), 1)
                              AS BIGINT), 4)) AS frame_id
  FROM documents
)
SELECT
  asset_id,
  frame_id,
  CAST(length(substring(text, CAST(frame_id*32 + 1 AS INTEGER), 32)) AS BIGINT)
    AS frame_len,
  lower(hex(encode(substring(text, CAST(frame_id*32 + 1 AS INTEGER), 4))))
    AS frame_head
FROM framed
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (the video-pipeline shape): fixed 32-byte frames,
    every 4th kept, via Arrow-batched mapInPandas over binary payloads.
    DuckDB has no BLOB substring, so the oracle slices the VARCHAR —
    byte == char positions because the corpus is pure ASCII (checked:
    octet_length == length for every document) — and re-encodes each
    slice; the Python worker round trip is value-checked end to end."""
    from ..operators.multimodal import attach_payloads, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_payloads(docs), frame_size=32, every=4)


# --- count-min sketch -------------------------------------------------------


def _cms_oracle_sql() -> str:
    from ..operators.sketches import CMS_DEPTH, cms_bucket_sql

    counters = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS r, {cms_bucket_sql(j, 'kh')} AS b, count(*) AS c"
        f" FROM occh GROUP BY 2"
        for j in range(CMS_DEPTH)
    )
    probes = "\n  UNION ALL\n".join(
        f"  SELECT token, exact_count, {j} AS r, {cms_bucket_sql(j, 'kh')} AS b"
        f" FROM exact"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH occ AS (
  SELECT unnest({_TOKENS}) AS token FROM documents
), dict AS (
  SELECT token, {hashing.rolling_hash_sql('token')} AS kh
  FROM (SELECT DISTINCT token FROM occ)
), occh AS (
  SELECT o.token, d.kh FROM occ o JOIN dict d USING (token)
), counters AS (
{counters}
), exact AS (
  SELECT token, kh, count(*) AS exact_count
  FROM occh GROUP BY 1, 2 HAVING count(*) >= 20
), probe AS (
{probes}
)
SELECT p.token, min(c.c) AS cms_count, p.exact_count
FROM probe p JOIN counters c ON p.r = c.r AND p.b = c.b
GROUP BY p.token, p.exact_count
"""


@register("cms_token_counts", _cms_oracle_sql())
def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min-sketch token frequencies, reported next to the exact
    count for every token occurring ≥ 20 times. The sketch grid AND the
    estimates are deterministic modular arithmetic, so the oracle replays
    the whole construction — cms_count ≥ exact_count by the CMS
    overestimate guarantee (asserted in tests/test_sketches.py)."""
    from ..operators.sketches import cms_counters, cms_estimates

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    dic = F.broadcast(
        occ.select("token").distinct().withColumn("kh", hashing.rolling_hash("token"))
    )
    occh = occ.join(dic, "token")
    counters = cms_counters(occh, hash_col="kh")
    exact = (
        occh.groupBy("token", "kh")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .where(F.col("exact_count") >= 20)
    )
    return cms_estimates(exact, counters, hash_col="kh").select(
        "token", "cms_count", "exact_count"
    )


# --- custom Python DataSource connector -------------------------------------


def _pyds_oracle() -> str:
    from ..sources.python_ds import tick_oracle_sql

    return f"""
WITH ticks AS ({tick_oracle_sql(4000)})
SELECT symbol,
       COUNT(*) AS n_ticks,
       MIN(price) AS lo,
       MAX(price) AS hi,
       CAST(CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS total
FROM ticks
GROUP BY symbol
"""


@register("pyds_tick_summary", _pyds_oracle())
def q_pyds_tick_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol tick summary read through the CUSTOM Python DataSource
    connector (sources/python_ds.py, Spark 4 DataSource API; sf_dir unused
    — the tape is synthetic and closed-form). The oracle regenerates the
    identical tape from range(), so the connector's row production is
    value-hash-checked like any operator. 8 parallel input partitions."""
    from ..sources.python_ds import register_tick_source

    register_tick_source(spark)
    ticks = (
        spark.read.format("synthetic_ticks")
        .option("partitions", "8")
        .option("rows_per_partition", "500")
        .load()
    )
    cents = F.round(F.col("price") * 100).cast("long")
    return ticks.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.min("price").alias("lo"),
        F.max("price").alias("hi"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total"),
    )


# --- lexicon sentiment ------------------------------------------------------

#: Tiny fixed polarity lexicon over the synthetic vocabulary (broadcast side).
SENTIMENT_LEXICON = (("fast", 2), ("big", 1), ("slow", -2), ("small", -1))


def _sentiment_oracle() -> str:
    values = ", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON)
    return f"""
WITH lex(word, score) AS (VALUES {values}),
occ AS (
  SELECT doc_id, unnest({_TOKENS}) AS token FROM documents
), hits AS (
  SELECT o.doc_id, CAST(SUM(l.score) AS BIGINT) AS score_sum,
         COUNT(*) AS n_polar
  FROM occ o JOIN lex l ON o.token = l.word
  GROUP BY o.doc_id
)
SELECT d.doc_id,
       COALESCE(h.score_sum, 0) AS score_sum,
       COALESCE(h.n_polar, 0)   AS n_polar,
       CAST(COALESCE(h.score_sum, 0) AS DOUBLE) / len({_TOKENS}) AS sentiment
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


@register("text_sentiment", _sentiment_oracle())
def q_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment (SURVEY §2.11's text-analysis row): polar
    words scored via a BROADCAST lexicon join over the exploded token
    stream, normalized by document length. Integer score sums are exact;
    docs with no polar words keep score 0 through the left join. The
    lexicon is the canonical tiny-dim broadcast — no shuffle touches it."""
    docs = load_table(spark, sf_dir, "documents")
    lex = F.broadcast(
        spark.createDataFrame(list(SENTIMENT_LEXICON), ["word", "score"])
    )
    occ = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    hits = (
        occ.join(lex, occ["token"] == lex["word"])
        .groupBy("doc_id")
        .agg(
            F.sum("score").alias("score_sum"),
            F.count(F.lit(1)).alias("n_polar"),
        )
    )
    n_tokens = F.size(F.split("text", " "))
    return (
        docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("score_sum", F.lit(0)).alias("score_sum"),
            F.coalesce("n_polar", F.lit(0)).alias("n_polar"),
            (F.coalesce("score_sum", F.lit(0)).cast("double") / n_tokens).alias(
                "sentiment"
            ),
        )
    )


@register(
    "sample_weighted",
    f"""
WITH w AS (
  SELECT doc_id, lang,
         len({_TOKENS}) AS n_tokens,
         least(len({_TOKENS}), 300) AS accept_pmille,
         {hashing.rolling_hash_sql("text")} % 1000 AS u
  FROM documents
)
SELECT doc_id, lang, n_tokens, accept_pmille
FROM w WHERE u < accept_pmille
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED reproducible sampling: acceptance probability proportional
    to document length (capped at 30%), decided by comparing a content-
    hash uniform draw against the per-doc weight — the deterministic twin
    of weighted reservoir sampling for corpus rebalancing. Pure narrow
    filter; membership is a function of the text alone, so it is stable
    across engines, reruns, and partitionings."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    accept = F.least(n_tokens, F.lit(300))
    u = hashing.rolling_hash("text") % 1000
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tokens.cast("long").alias("n_tokens"),
            accept.cast("long").alias("accept_pmille"),
            u.alias("_u"),
        )
        .where(F.col("_u") < F.col("accept_pmille"))
        .drop("_u")
    )


@register(
    "sample_stratified",
    f"""
SELECT doc_id, lang, rn
FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {hashing.rolling_hash_sql("text")}, doc_id)
           AS rn
  FROM documents
)
WHERE rn <= 20
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED fixed-size sampling: exactly 20 docs per language,
    chosen by content-hash order (deterministic across engines, reruns,
    partitionings; doc_id breaks hash ties). One ranked window partitioned
    by the stratum — shuffle on lang only, and the rank-filter prunes
    everything past k per group."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        hashing.rolling_hash("text").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
    )


@register(
    "corpus_prep_pipeline",
    f"""
WITH deduped AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
), kept AS (
  SELECT d.doc_id, d.lang, d.text,
         len({_TOKENS}) AS n_tokens
  FROM documents d JOIN deduped USING (doc_id)
  WHERE len({_TOKENS}) >= 30
    AND len(list_distinct({_TOKENS})) / len({_TOKENS}) >= 0.3
    AND len(list_filter({_TOKENS}, t -> list_contains({_STOP_SQL}, t)))
          / len({_TOKENS}) <= 0.5
), assigned AS (
  SELECT doc_id, lang, n_tokens,
         CASE WHEN {hashing.rolling_hash_sql("text")} % 100 < 80 THEN 'train'
              WHEN {hashing.rolling_hash_sql("text")} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM kept
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(ceil(n_tokens / 256.0) AS BIGINT)) AS BIGINT) AS n_chunks,
       MIN(doc_id) AS min_doc_id
FROM assigned
GROUP BY split
""",
)
def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE: the full LLM corpus-prep DAG as one declarative query —
    fingerprint dedup (keep lowest id per identical text) → quality gate
    (the quality_filter thresholds) → content-hash train/valid/test split
    → 256-token chunk accounting, reported per split. Every stage reuses
    the semantics of its standalone operator, so the composition is
    oracle-checked end-to-end; the only shuffles are the dedup groupBy
    and the final 3-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    deduped = docs.groupBy(F.sha2("text", 256)).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n
    kept = (
        docs.join(deduped, "doc_id")
        .where((n >= 30) & (ttr >= 0.3) & (stop <= 0.5))
        .select("doc_id", "lang", "text", n.alias("n_tokens"))
    )
    h = hashing.rolling_hash("text") % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    )
    return (
        kept.select("doc_id", "n_tokens", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.ceil(F.col("n_tokens") / 256.0)).cast("long").alias("n_chunks"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# --- corpus hygiene: repetition, contamination, domain mixing ---------------


@register(
    "quality_repetition",
    """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t
), c AS (
  SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg
), m AS (
  SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY doc_id
), d AS (
  SELECT doc_id, len(toks) AS n_tokens,
         1.0 - len(list_distinct(toks)) / len(toks) AS dup_word_frac
  FROM t
  WHERE len(toks) >= 2
)
SELECT d.doc_id,
       d.n_tokens,
       d.dup_word_frac,
       m.top_cnt / (d.n_tokens - 1)                   AS top_bigram_frac,
       (d.dup_word_frac > 0.82
        OR m.top_cnt / (d.n_tokens - 1) > 0.18)       AS is_repetitive
FROM d JOIN m USING (doc_id)
""",
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals in the style of the Gopher corpus
    rules (Rae et al. 2021, arXiv:2112.11446 §A1.1): per-document duplicate
    -word fraction and most-frequent-bigram coverage, plus the combined
    repetitiveness gate.

    Scale design: the whole computation is NARROW — tokens, bigrams, and
    the top-bigram count never leave the row. The most-frequent-bigram
    count folds over the SORTED bigram array with a run-length
    ``F.aggregate`` (state: previous element, current run, best run)
    instead of explode → groupBy(doc_id, bigram) → max, so a 100 TB corpus
    pays zero shuffles and no per-bigram row explosion; the oracle states
    the same quantity as the explode/group/max it is equivalent to."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # Docs with no bigram are unscorable and are dropped explicitly on
    # both sides (the oracle's d CTE filters len(toks) >= 2).
    bigrams = bigrams_col(toks)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top_cnt = F.aggregate(F.sort_array(bigrams), zero, step, lambda acc: acc["best"])
    dup = F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    scored = docs.where(n >= 2).select(
        "doc_id",
        n.alias("n_tokens"),
        dup.alias("dup_word_frac"),
        (top_cnt / (n - 1)).alias("top_bigram_frac"),
    )
    return scored.withColumn(
        "is_repetitive",
        (F.col("dup_word_frac") > 0.82) | (F.col("top_bigram_frac") > 0.18),
    )


@register(
    "decontaminate_ngram",
    """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg
  FROM t
), bench AS (
  SELECT DISTINCT tg FROM g WHERE doc_id % 20 = 0
), hits AS (
  SELECT c.doc_id,
         count(*)                                                  AS n_trigrams,
         CAST(sum(CASE WHEN b.tg IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT)                                           AS n_hits
  FROM g c LEFT JOIN bench b USING (tg)
  WHERE c.doc_id % 20 <> 0
  GROUP BY c.doc_id
)
SELECT doc_id, n_trigrams, n_hits,
       n_hits / n_trigrams          AS contamination_frac,
       n_hits / n_trigrams >= 0.8   AS is_contaminated
FROM hits
""",
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by word-trigram overlap: documents whose
    distinct trigrams are mostly contained in the held-out set (here the
    deterministic pseudo-benchmark ``doc_id % 20 == 0``) are flagged, the
    standard eval-leakage check run before LLM training.

    Scale design: an eval set is tiny by nature, so its distinct-trigram
    set is BROADCAST and the containment check is a map-side hash lookup —
    the corpus side never shuffles for the membership test. Per-document
    trigram dedup happens INSIDE the row (``array_distinct`` before the
    explode), so the corpus never pays a distinct shuffle either; the
    only wide stage is the final per-doc count. The scan is fanned out
    (``parallelize=True``): single-row-group testdata would otherwise run
    the whole trigram explosion on one core."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    # Short docs get an empty trigram array on both sides (the oracle's
    # range(1, len-1) is empty; explode of [] emits no rows).
    tris = trigrams_col(toks)
    grams = docs.select("doc_id", F.explode(F.array_distinct(tris)).alias("tg"))
    bench = (
        grams.where(F.col("doc_id") % 20 == 0)
        .select("tg")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    hits = (
        grams.where(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(bench), "tg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
    )
    frac = F.col("n_hits") / F.col("n_trigrams")
    return hits.select(
        "doc_id",
        "n_trigrams",
        "n_hits",
        frac.alias("contamination_frac"),
        (frac >= 0.8).alias("is_contaminated"),
    )


#: Target corpus mixture in basis points per language (sums to 10000).
DOMAIN_TARGET_BPS = {"en": 4000, "de": 1500, "es": 1500, "fr": 1500, "zh": 1500}
_TARGET_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in DOMAIN_TARGET_BPS.items())
    + " ELSE 0 END"
)


@register(
    "domain_mixture",
    f"""
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM counts
), rates AS (
  SELECT lang, n_docs,
         CAST({_TARGET_CASE_SQL} AS BIGINT) AS target_bps,
         least(10000, (CAST({_TARGET_CASE_SQL} AS BIGINT) * total) // n_docs)
           AS rate_bps
  FROM counts, tot
), sampled AS (
  SELECT d.lang, count(*) AS n_sampled
  FROM documents d JOIN rates r USING (lang)
  WHERE {hashing.rolling_hash_sql('text')} % 10000 < r.rate_bps
  GROUP BY d.lang
)
SELECT r.lang, r.n_docs, r.target_bps, r.rate_bps,
       coalesce(s.n_sampled, CAST(0 AS BIGINT)) AS n_sampled
FROM rates r LEFT JOIN sampled s USING (lang)
""",
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixture reweighting: given a target mixture (basis
    points per language), derive a per-language downsampling rate
    ``min(1, target_share·total / lang_count)`` in exact integer
    arithmetic, then take the sample by CONTENT hash so membership is
    stable across reruns, partitionings, and engines (no rand()).

    Scale design: the per-language rate table is a handful of rows —
    broadcast back onto the corpus — so the whole reweighting is one
    groupBy(lang) count plus one narrow filtered recount; nothing
    corpus-sized ever sits on one partition."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = docs.agg(F.count(F.lit(1)).cast("long").alias("total"))
    target = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v).cast("long"))
            for k, v in DOMAIN_TARGET_BPS.items()
        ],
        F.lit(0).cast("long"),
    )
    rates = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("target_bps", target)
        .withColumn(
            "rate_bps",
            F.least(F.lit(10000).cast("long"), F.expr("(target_bps * total) div n_docs")),
        )
        .select("lang", "n_docs", "target_bps", "rate_bps")
    )
    sampled = (
        docs.join(F.broadcast(rates.select("lang", "rate_bps")), "lang")
        .where(hashing.rolling_hash("text") % 10000 < F.col("rate_bps"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )
    return rates.join(sampled, "lang", "left").select(
        "lang",
        "n_docs",
        "target_bps",
        "rate_bps",
        F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias("n_sampled"),
    )


@register(
    "text_lm_coverage",
    """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), occ AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t
), freq AS (
  SELECT bg FROM occ GROUP BY bg HAVING count(*) >= 20
), cov AS (
  SELECT o.doc_id,
         count(*) AS n_bigrams,
         CAST(sum(CASE WHEN f.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM occ o LEFT JOIN freq f USING (bg)
  GROUP BY o.doc_id
)
SELECT doc_id, n_bigrams, n_covered,
       n_covered / n_bigrams          AS coverage,
       n_covered / n_bigrams >= 0.5   AS passes_lm
FROM cov
""",
)
def q_text_lm_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM coverage score: the fraction of a document's bigram
    OCCURRENCES that are frequent (count ≥ 20) in the corpus itself — the
    integer-exact stand-in for the n-gram-LM perplexity filter of CCNet
    (Wenzek et al. 2020, arXiv:1911.00359): low coverage ⇒ the document's
    word transitions are unusual for the corpus ⇒ likely noise. (A real
    log-probability would hash-differ across engines' libm; a count
    ratio is bit-stable.)

    Scale design: the frequent-bigram table is min-count pruned BEFORE the
    membership join (HAVING on the aggregate — at 100 TB this is the
    difference between joining against the full bigram vocabulary and a
    small high-frequency head), and the join is a plain equi-join AQE can
    broadcast when the head fits. Scan fanned out (``parallelize=True``)
    for the same single-row-group reason as decontaminate_ngram."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    # 1-token docs get an empty bigram array, matching the oracle's
    # empty range(1, len(toks)).
    bigrams = bigrams_col(toks)
    occ = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    freq = (
        occ.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") >= 20)
        .select("bg")
        .withColumn("_hit", F.lit(1))
    )
    cov = (
        occ.join(freq, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
    )
    coverage = F.col("n_covered") / F.col("n_bigrams")
    return cov.select(
        "doc_id",
        "n_bigrams",
        "n_covered",
        coverage.alias("coverage"),
        (coverage >= 0.5).alias("passes_lm"),
    )


@register(
    "rag_retrieve_chunks",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id, list_cosine_similarity(e, qe) AS cos_sim
  FROM d, q WHERE vec_id != query_id
), top AS (
  SELECT query_id, vec_id, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 3
), toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
chunks AS (
  SELECT t.query_id, t.vec_id AS doc_id, t.cos_sim, t.rank,
         unnest(range(0, CAST(ceil(greatest(len(k.ts) - 10, 1) / 30.0)
                              AS BIGINT))) AS chunk_id,
         k.ts
  FROM top t JOIN toks k ON k.doc_id = t.vec_id
)
SELECT
  query_id, doc_id, cos_sim, rank, chunk_id,
  md5(array_to_string(ts[chunk_id*30 + 1 : chunk_id*30 + 40], ' ')) AS chunk_md5,
  least(len(ts) - chunk_id*30, 40)                                  AS n_tokens
FROM chunks
""",
)
def q_rag_retrieve_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval capstone: exact cosine top-3 documents per query
    vector (embeddings.vec_id doubles as documents.doc_id in the
    testdata) joined to the text side and exploded into the standard
    40-token / stride-30 chunks, chunk text fingerprinted with md5.
    Composes the similarity and chunking operators end-to-end under one
    oracle.

    Scale design: the query set is broadcast (bounded by construction);
    the retrieved doc set is ≤ queries×k rows, so the text join is a
    broadcast of the TOP TABLE against documents — the corpus is scanned
    once, never shuffled; chunking stays inside the row."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = (
        cosine_topk(emb, queries, k=3)
        .withColumnRenamed("vec_id", "doc_id")
        .withColumn("rank", F.col("rank").cast("long"))
    )
    ts = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.greatest(F.size(ts) - 10, F.lit(1)) / 30.0).cast("long")
    with_toks = docs.select("doc_id", ts.alias("ts"), n_chunks.alias("_nc"))
    joined = with_toks.join(F.broadcast(top), "doc_id")
    chunk_id = F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
    return (
        joined.select(
            "query_id", "doc_id", "cos_sim", "rank", "ts", chunk_id.alias("chunk_id")
        )
        .select(
            "query_id",
            "doc_id",
            "cos_sim",
            "rank",
            "chunk_id",
            F.md5(
                F.array_join(F.slice(F.col("ts"), F.col("chunk_id") * 30 + 1, 40), " ")
            ).alias("chunk_md5"),
            F.least(F.size("ts") - F.col("chunk_id") * 30, F.lit(40))
            .cast("long")
            .alias("n_tokens"),
        )
    )


@register(
    "embedding_dim_variance",
    """
WITH comp AS (
  SELECT unnest(list_transform(embedding::DOUBLE[], (x, i) -> {'i': i, 'v': x})) AS u
  FROM embeddings
),
s AS (
  SELECT u.i AS i, count(*) AS n,
         SUM(CAST(floor(u.v * 1e12 + CAST(0.5 AS DOUBLE))
                  AS DECIMAL(38,0))) AS sx,
         SUM(CAST(floor(u.v * u.v * 1e12 + CAST(0.5 AS DOUBLE))
                  AS DECIMAL(38,0))) AS sx2
  FROM comp GROUP BY 1
)
SELECT CAST(i AS BIGINT) AS dim, n AS n_vecs,
       CAST(sx AS DOUBLE) / 1e12 / n AS mean,
       CAST(sx2 AS DOUBLE) / 1e12 / n
         - (CAST(sx AS DOUBLE) / 1e12 / n) * (CAST(sx AS DOUBLE) / 1e12 / n)
         AS variance
FROM s
""",
)
def q_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus (dims
    1-based) — the feature-health report behind whitening, dead-dim
    detection, and the int8 quantizer's range choice
    (embedding_quantize_int8 consumes exactly these ranges).

    Determinism: components are full-precision doubles, so decimal
    casts would round engine-differently (see operators/graph.py);
    moments are summed as exact integer 1e-12 units via
    floor(x·1e12 + 0.5) — identical IEEE ops — inside DECIMAL(38,0)
    accumulators, which hold corpus-scale unit sums without overflow
    and type-match DuckDB's decimal SUM exactly. One posexplode +
    one map-side-combinable (dim) aggregate; dims ≪ rows, no skew."""
    from ..functions.vectorops import as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(as_double_array("embedding")).alias("_p", "x")
    )
    ux = F.floor(F.col("x") * F.lit(1.0e12) + F.lit(0.5)).cast("decimal(38,0)")
    ux2 = F.floor(
        F.col("x") * F.col("x") * F.lit(1.0e12) + F.lit(0.5)
    ).cast("decimal(38,0)")
    s = (
        comp.groupBy((F.col("_p") + 1).cast("bigint").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(ux).alias("_sx"),
            F.sum(ux2).alias("_sx2"),
        )
    )
    sx_d = F.col("_sx").cast("double") / F.lit(1.0e12) / F.col("n_vecs")
    sx2_d = F.col("_sx2").cast("double") / F.lit(1.0e12) / F.col("n_vecs")
    return s.select(
        "dim",
        "n_vecs",
        sx_d.alias("mean"),
        (sx2_d - sx_d * sx_d).alias("variance"),
    )


#: Shared whitening oracle CTE chain (embedding_whiten /
#: embedding_whiten_ivf): per-dim moments as exact integer 1e-12 units
#: (embedding_dim_variance discipline), then the apply step
#: w = (x - mean) / sqrt(var + 1e-9). Subtract, add, sqrt, divide are
#: all correctly-rounded IEEE ops, so whitened components are
#: bit-identical across engines — no quantization needed until a SUM.
_WHITEN_CTES = """
comp AS (
  SELECT vec_id, u.i AS i, u.v AS x FROM (
    SELECT vec_id,
           unnest(list_transform(embedding::DOUBLE[],
                                 (x, i) -> {'i': i, 'v': x})) AS u
    FROM embeddings)
),
s AS (
  SELECT i, count(*) AS n,
         SUM(CAST(floor(x * 1e12 + CAST(0.5 AS DOUBLE))
                  AS DECIMAL(38,0))) AS sx,
         SUM(CAST(floor(x * x * 1e12 + CAST(0.5 AS DOUBLE))
                  AS DECIMAL(38,0))) AS sx2
  FROM comp GROUP BY i
),
st AS (
  SELECT i,
         CAST(sx AS DOUBLE) / 1e12 / n AS m,
         CAST(sx2 AS DOUBLE) / 1e12 / n
           - (CAST(sx AS DOUBLE) / 1e12 / n)
             * (CAST(sx AS DOUBLE) / 1e12 / n) AS v
  FROM s
),
w AS (
  SELECT comp.vec_id, comp.i,
         (comp.x - st.m) / sqrt(st.v + CAST(1e-9 AS DOUBLE)) AS wx
  FROM comp JOIN st USING (i)
)
"""


def _whitened_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding) with each vector mean-centered and
    variance-scaled per dimension — the normalize-before-index stage
    IVF/PQ assumes (VERDICT r6 item 7).

    Plan: per-dim moments via ONE posexplode + one 64-key map-side-
    combined aggregate (embedding_dim_variance's exact-integer-unit
    discipline), collapsed into a SINGLE row of (means, inv-var) arrays
    ordered by dim (sort_array of structs — deterministic regardless of
    partition arrival), then broadcast back across the corpus as a
    1-row crossJoin (the lint-sanctioned bounded-build shape). The
    apply is two zip_with passes — scan-local, ZERO vector-side
    shuffles; at 100 TB the stats fit in one cache line per dim and
    the corpus is touched exactly twice (once for moments, once for
    the apply)."""
    from ..functions.vectorops import as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(as_double_array("embedding")).alias("_p", "x")
    )
    ux = F.floor(F.col("x") * F.lit(1.0e12) + F.lit(0.5)).cast("decimal(38,0)")
    ux2 = F.floor(
        F.col("x") * F.col("x") * F.lit(1.0e12) + F.lit(0.5)
    ).cast("decimal(38,0)")
    s = comp.groupBy("_p").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ux).alias("_sx"),
        F.sum(ux2).alias("_sx2"),
    )
    sx_d = F.col("_sx").cast("double") / F.lit(1.0e12) / F.col("n")
    sx2_d = F.col("_sx2").cast("double") / F.lit(1.0e12) / F.col("n")
    stats_row = (
        s.select("_p", sx_d.alias("m"), (sx2_d - sx_d * sx_d).alias("v"))
        .groupBy()
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_p"), F.col("m"), F.col("v")))
            ).alias("_s")
        )
        .select(
            F.transform(F.col("_s"), lambda e: e.getField("m")).alias("_means"),
            F.transform(F.col("_s"), lambda e: e.getField("v")).alias("_vars"),
        )
    )
    e = as_double_array("embedding")
    centered = F.zip_with(e, F.col("_means"), lambda x, m: x - m)
    w = F.zip_with(
        centered, F.col("_vars"), lambda c, v: c / F.sqrt(v + F.lit(1.0e-9))
    )
    return emb.crossJoin(F.broadcast(stats_row)).select(
        "vec_id", w.alias("embedding")
    )


@register(
    "embedding_whiten",
    f"""
WITH {_WHITEN_CTES}
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_dims,
       CAST(SUM(CAST(floor(wx * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS w_sum_units,
       CAST(SUM(CAST(floor(wx * wx * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS w_norm2_units
FROM w GROUP BY vec_id
""",
)
def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding whitening APPLY (VERDICT r6 item 7):
    embedding_dim_variance computes the moments; this query applies
    them — mean-center + per-dim diagonal scale 1/sqrt(var + 1e-9) —
    and proves the whitened corpus bit-exactly via per-vector
    quantized component-sum and norm² (integer 1e-9 units, the
    operators/graph.py rule; quantization BEFORE the sum makes the
    per-vector fold order-independent). See
    :func:`_whitened_embeddings` for the broadcast-1-row plan."""
    w = _whitened_embeddings(spark, sf_dir)
    units = lambda x: F.floor(x * F.lit(1.0e9) + F.lit(0.5)).cast("bigint")  # noqa: E731
    zero = F.lit(0).cast("bigint")
    return w.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.aggregate(
            "embedding", zero, lambda acc, x: acc + units(x)
        ).alias("w_sum_units"),
        F.aggregate(
            "embedding", zero, lambda acc, x: acc + units(x * x)
        ).alias("w_norm2_units"),
    )


@register(
    "embedding_whiten_ivf",
    f"""
WITH {_WHITEN_CTES},
wl AS (
  SELECT vec_id, list(wx ORDER BY i) AS e FROM w GROUP BY vec_id
),
cents AS (SELECT vec_id AS cid, e AS cv FROM wl WHERE vec_id < 8),
dists AS (
  SELECT vec_id, cid,
         list_sum(list_transform(list_zip(e, cv),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
  FROM wl CROSS JOIN cents
),
cells AS (
  SELECT vec_id, (min(struct_pack(d := dist, c := cid))).c AS cell
  FROM dists GROUP BY vec_id
),
assigned AS (SELECT wl.vec_id, wl.e, cells.cell FROM wl JOIN cells USING (vec_id)),
q AS (SELECT vec_id AS query_id, e AS qe, cell FROM assigned WHERE vec_id < 10),
scored AS (
  SELECT query_id, a.vec_id, list_cosine_similarity(a.e, qe) AS cos_sim
  FROM assigned a JOIN q USING (cell) WHERE a.vec_id != query_id
)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def q_embedding_whiten_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whiten-then-index audit (VERDICT r6 item 7's composition):
    the whitened corpus feeds similarity_ivf_topk's IVF ANN unchanged —
    coarse argmin-L2 cells over WHITENED vectors + exact cosine re-rank
    in the probed cell. This is the production normalize-before-index
    pipeline as one oracle-checked query; whitening changes the cell
    geometry, so the oracle replays the whole composed path, not just
    the final ranks."""
    from ..operators import similarity as sim_ops

    w = _whitened_embeddings(spark, sf_dir)
    return sim_ops.ivf_cosine_topk(w, n_cells=8, n_queries=10, k=5)


@register(
    "dedup_hybrid_pairs",
    f"""
WITH lex AS (
  SELECT id_a, id_b, jaccard FROM ({_minhash_pairs_sql(0.7)})
),
embp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.e, b.e) AS cos_sim
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings) a
  JOIN (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings) b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.e, b.e) >= 0.35
)
SELECT coalesce(l.id_a, e.id_a) AS id_a,
       coalesce(l.id_b, e.id_b) AS id_b,
       l.jaccard,
       e.cos_sim,
       CASE WHEN l.id_a IS NOT NULL AND e.id_a IS NOT NULL THEN 'both'
            WHEN l.id_a IS NOT NULL THEN 'lexical'
            ELSE 'embedding' END AS matched_by
FROM lex l FULL OUTER JOIN embp e
  ON l.id_a = e.id_a AND l.id_b = e.id_b
""",
)
def q_dedup_hybrid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid near-dup report: the UNION of the lexical channel
    (MinHash-LSH, J ≥ 0.7 — catches paraphrase-free copies) and the
    semantic channel (label-blocked embedding cosine ≥ 0.35 — catches
    rewordings lexical shingles miss), full-outer-joined on the pair
    key with a matched_by provenance tag. Documents and vectors share
    the id space in the testdata, standing in for the doc↔embedding
    linkage a production curation pipeline carries. Both inputs are the
    already-subquadratic pair generators; the merge is one hash join."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    emb = load_table(spark, sf_dir, "embeddings")
    lex = minhash_lsh_pairs(docs, threshold=0.7).select(
        "id_a", "id_b", "jaccard"
    )
    embp = embedding_near_dup_pairs(
        emb, block_col="label", threshold=0.35
    ).select(
        F.col("id_a").alias("_ea"),
        F.col("id_b").alias("_eb"),
        "cos_sim",
    )
    both = F.col("id_a").isNotNull() & F.col("_ea").isNotNull()
    return (
        lex.join(
            embp,
            (F.col("id_a") == F.col("_ea")) & (F.col("id_b") == F.col("_eb")),
            "full_outer",
        )
        .select(
            F.coalesce("id_a", "_ea").alias("_ka"),
            F.coalesce("id_b", "_eb").alias("_kb"),
            "jaccard",
            "cos_sim",
            F.when(both, F.lit("both"))
            .when(F.col("id_a").isNotNull(), F.lit("lexical"))
            .otherwise(F.lit("embedding"))
            .alias("matched_by"),
        )
        .withColumnsRenamed({"_ka": "id_a", "_kb": "id_b"})
    )


@register(
    "udtf_token_positions",
    """
SELECT doc_id,
       CAST(pos - 1 AS INTEGER) AS pos,
       tok,
       CAST(length(tok) AS INTEGER) AS tok_len
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
)
WHERE doc_id < 50
""",
)
def q_udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface demonstration (SURVEY §2.10 — the one UDF
    class the repo had not yet exhibited): an arrow-batched table
    function fanning each document into (pos, token, length) rows via
    a lateral join. DELIBERATELY not a hot-path shape — the builtin
    twin is ``posexplode(split(...))`` (used everywhere else, zero
    Python) — and bounded to 50 documents: this registry entry proves
    the UDTF extension point works end-to-end against the oracle, the
    way multimodal proves mapInPandas."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string, tok_len int")
    class TokenPositions:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield i, tok, len(tok)

    spark.udtf.register("token_positions", TokenPositions)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.tok, t.tok_len
        FROM _udtf_docs d,
        LATERAL token_positions(d.text) t
        """
    )


# --- training-order shuffle / sharding (round 6) ------------------------------
#
# The last mile of a corpus pipeline: a DETERMINISTIC pseudo-random global
# training order (hash of the stable id — reproducible across engines and
# runs, unlike rand()), per-source quota caps, and balanced shard
# assignment for N-way data-parallel readers. All three are pure
# relational shapes: no rand(), no single-partition window (the global
# order goes through operators/ranking's two-phase row_number).


@register(
    "dataset_shuffle_order",
    """
SELECT
  ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
    AS shuffle_rank,
  doc_id,
  md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents
""",
)
def q_dataset_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: order by the md5 of
    the stable document id (tie-broken by the id itself, so the order is
    total and bit-reproducible), ranked WITHOUT a single-partition window
    — operators/ranking.with_global_rank range-partitions on the hash,
    ranks locally in parallel, and prefix-sums one tiny per-partition
    count table. The plan a 100 TB epoch shuffle wants: one range
    exchange, parallel windows, an O(#partitions) offset broadcast."""
    from ..operators.ranking import with_global_rank

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    keyed = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("shuffle_key"),
    )
    ranked = with_global_rank(
        keyed, ["shuffle_key", "doc_id"], rank_col="shuffle_rank"
    )
    return ranked.select("shuffle_rank", "doc_id", "shuffle_key")


_QUOTA_PER_SOURCE = 12


@register(
    "source_quota_sample",
    f"""
SELECT source, pick_rank, doc_id
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick_rank
  FROM documents
)
WHERE pick_rank <= {_QUOTA_PER_SOURCE}
""",
)
def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap: keep at most N documents per source, chosen
    by the deterministic hash order (not "first N in file order", which
    biases toward ingestion order). The row_number-then-filter shape
    plans as WindowGroupLimit with a PARTIAL map-side pass (Spark 3.5+),
    so a dominant source ships N rows per task — never its full volume —
    the same skew-safe pattern as inverted_index_champions."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).cast("long").alias("pick_rank")
        )
        .where(F.col("pick_rank") <= _QUOTA_PER_SOURCE)
        .select("source", "pick_rank", "doc_id")
    )


_N_SHARDS = 16


@register(
    "epoch_shard_assign",
    f"""
WITH ordered AS (
  SELECT doc_id, n_chars,
         ntile({_N_SHARDS}) OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS shard
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM ordered
GROUP BY shard
ORDER BY shard
""",
)
def q_epoch_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced shard assignment for N data-parallel readers: ntile over
    the deterministic shuffle order, summarized per shard. ntile is
    computed ARITHMETICALLY from the two-phase global rank
    (operators/ranking.ntile_expr) — no single-partition window ever
    sees a corpus row, and shard sizes differ by at most one document
    by construction. Exact integer char sums per shard double as a
    cheap balance audit."""
    from ..operators.ranking import ntile_expr, with_global_rank

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("_k"),
    )
    ranked = with_global_rank(keyed, ["_k", "doc_id"], rank_col="_rn", total_col="_tot")
    return (
        ranked.select(
            "doc_id",
            "n_chars",
            ntile_expr("_rn", "_tot", _N_SHARDS).alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("shard")
    )


@register(
    "ngram_novelty",
    """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg
  FROM t
), df AS (
  SELECT tg, count(*) AS df FROM g GROUP BY tg
)
SELECT g.source,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS novelty_frac
FROM g JOIN df USING (tg)
GROUP BY g.source
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty by source: the fraction of (doc, distinct-trigram)
    occurrences whose trigram appears in exactly ONE document
    corpus-wide. High novelty = fresh text; low novelty = boilerplate
    mills. The self-corpus complement of decontaminate_ngram (which
    checks containment against a held-out set) and the cross-document
    complement of quality_repetition (which scores repetition INSIDE a
    document) — together they triangulate where duplicated language
    lives.

    Scale: per-document trigram dedup happens inside the row
    (array_distinct before the explode), the document-frequency table
    is one trigram-keyed aggregate, and the join back is trigram-keyed
    too — with AQE handling stopword-trigram skew. Nothing is
    broadcast: the df table is corpus-proportional by construction
    (VERDICT r5's broadcast-discipline rule)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = F.split(F.col("text"), " ")
    tris = trigrams_col(toks)
    grams = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(tris)).alias("tg")
    )
    df = grams.groupBy("tg").agg(F.count(F.lit(1)).alias("df"))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("long")
    return (
        grams.join(df, "tg")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            uniq.alias("n_unique"),
            (uniq / F.count(F.lit(1)).cast("long")).alias("novelty_frac"),
        )
    )


_FH_BUCKETS = 64


@register(
    "feature_hash_bow",
    f"""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
),
h AS (
  SELECT lang, {hashing.rolling_hash_sql("token")} AS th FROM tok
)
SELECT lang,
       th % {_FH_BUCKETS} AS bucket,
       CAST(sum(1 - 2 * ((th // {_FH_BUCKETS}) % 2)) AS BIGINT) AS feat_sum,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM h
GROUP BY lang, th % {_FH_BUCKETS}
""",
)
def q_feature_hash_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (feature hashing): bag-of-words folded into a
    fixed 64-bucket signed feature space — bucket = token-hash mod 64,
    sign = the next hash bit — so the featurizer needs NO vocabulary
    pass, no dictionary broadcast, and its output width is constant
    regardless of corpus size (the property that makes it the standard
    first featurizer at web scale). Aggregated per language here; the
    per-document vector is the same expression grouped by doc_id.

    The token hash is the engine's cross-engine polynomial rolling hash
    (functions/hashing.py) — plain int64 modular arithmetic, identical
    in both engines, so the signed sums match bit-for-bit. Plan: scan →
    explode → one (lang, bucket)-keyed aggregate with map-side
    partials; nothing is broadcast, nothing is collected."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    th = hashing.rolling_hash("token")
    return (
        tok.select("lang", th.alias("th"))
        .groupBy(
            "lang", (F.col("th") % _FH_BUCKETS).alias("bucket")
        )
        .agg(
            F.sum(
                F.lit(1)
                - F.lit(2) * (F.expr(f"th DIV {_FH_BUCKETS}") % 2)
            )
            .cast("long")
            .alias("feat_sum"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


@register(
    "multimodal_audio_chunks",
    """
WITH ch AS (
  SELECT doc_id, unnest(range(0, 4)) AS chunk_id FROM documents
),
s AS (
  SELECT doc_id, chunk_id,
         list_transform(range(chunk_id*256, (chunk_id+1)*256),
                        i -> abs(((doc_id*7 + i*13) % 4096) - 2048)) AS a
  FROM ch
)
SELECT doc_id AS asset_id, chunk_id,
       CAST(16000 AS BIGINT) AS sample_rate,
       CAST(256 AS BIGINT)   AS n_samples,
       CAST(list_sum(a) AS BIGINT) AS sum_abs,
       CAST(list_max(a) AS BIGINT) AS peak
FROM s
""",
)
def q_multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: deterministic RIFF/WAVE payloads
    (sample i of asset d is ``((d*7 + i*13) mod 4096) - 2048``, int16
    mono — genuine WAV bytes any player opens) are synthesized per
    document, then parsed by the pure-numpy chunk walker
    (operators/multimodal.py parse_wav) into fixed 256-sample frames
    with exact integer Σ|amplitude| and peak — the framing step every
    audio featurizer starts with. The oracle states the chunk stats in
    closed form from the sample rule, so a wrong header walk, byte
    order, or window offset hash-fails.

    Scale: synth and decode are executor-local Arrow passes over the id
    column — zero shuffles; blobs never leave the executor, only the
    #chunks-sized stats rows do (the 1-D twin of
    multimodal_image_decode)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    from ..operators.multimodal import decode_audio_chunks, synth_wav_assets

    return decode_audio_chunks(synth_wav_assets(docs))


@register(
    "bpe_top_merges",
    """
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (SELECT string_split(word, '') AS ch FROM w),
p AS (
  SELECT unnest(list_transform(range(1, len(ch)),
                               i -> ch[i] || ' ' || ch[i+1])) AS pair
  FROM c
)
SELECT pair, cnt, rank FROM (
  SELECT pair, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, pair ASC) AS rank
  FROM p GROUP BY pair
) WHERE rank <= 20
""",
)
def q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge iteration, corpus-wide: count ADJACENT symbol pairs
    inside every word occurrence and rank the top-20 merge candidates —
    the inner loop of tokenizer training (the highest-count pair becomes
    the next merge rule). Word-internal character pairs, weighted by
    word frequency, with a total (count desc, pair asc) tie-break so
    the merge choice is deterministic.

    Scale: pair generation is row-local (zip_with over two slices —
    NOT positional get-lookups, per the lm_bigram_topk O(n²) lesson);
    the only wide stages are one pair-keyed aggregate with map-side
    partials and a TakeOrdered top-k — no full sort, no vocabulary
    broadcast. Subsequent merge rounds re-run the same shape over the
    re-paired corpus."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    word = F.explode(F.split(F.col("text"), " ")).alias("word")
    ch = F.split(F.col("word"), "")
    n = F.size(ch)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(ch, 1, n - 1),
            F.slice(ch, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        docs.select(word)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(20)
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@register("bpe_train_merges", _bpe_train_oracle())
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration BPE tokenizer training (VERDICT r12 item 5 —
    the missing half of the one-step bpe_top_merges exhibit): 6 merge
    rules learned end-to-end, each round re-counting pairs over the
    merged symbol sequences, driver-coordinated like lloyd_train (the
    merge table is O(n_merges) driver state; per round one pair-count
    aggregate over the distinct-word table + a narrow codegen fold
    applying the winner). The oracle replays all rounds including the
    greedy non-overlapping merge application."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return bpe_train(docs, _BPE_MERGES)


@register("bpe_encode_vocab", _bpe_encode_oracle())
def q_bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the serving half of the trainer: the 10 trained
    merge rules applied to the distinct-word vocabulary in training
    order (merge priority is training order, Sennrich et al.'s
    encoder), each rule one greedy codegen fold. Output: every word's
    segmentation, token count, and corpus frequency — the tokenizer's
    end-to-end contract under the driver hash. At 100 TB encoding is a
    map-only stage over the corpus; here it runs on the distinct-word
    collapse the trainer already uses."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    rules = bpe_train_rules(docs, _BPE_MERGES)
    enc = bpe_encode(word_freqs(docs), rules)
    return enc.select(
        "word",
        F.col("freq").cast("long").alias("freq"),
        F.size("syms").cast("long").alias("n_tokens"),
        F.concat_ws("|", "syms").alias("tokens"),
    )


def _survivorship_oracle_sql() -> str:
    """Golden-record selection over the near-dup clusters: the
    transitive-closure cluster CTE of _clusters_oracle_sql, joined back
    to documents with the struct-max survivor pick."""
    return f"""
WITH RECURSIVE {_minhash_sql_cte().lstrip()},
bands AS ({_minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list(DISTINCT sh) AS units, count(DISTINCT sh) AS n_units
  FROM shg GROUP BY doc_id
), pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sets sa ON sa.doc_id = id_a
  JOIN sets sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.units, sb.units))
      / (sa.n_units + sb.n_units - len(list_intersect(sa.units, sb.units))) >= 0.7
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), clusters AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT c.cluster_id,
       -(max(struct_pack(q := d.n_chars, nd := -d.doc_id))).nd AS survivor_doc,
       CAST(count(*) AS BIGINT)        AS n_members,
       CAST(sum(d.n_chars) AS BIGINT)  AS total_chars,
       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
FROM clusters c JOIN documents d USING (doc_id)
GROUP BY c.cluster_id
"""


@register("dedup_survivorship", _survivorship_oracle_sql())
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: after near-dup clustering, each
    cluster keeps ONE canonical document — the longest member, ties to
    the smallest id (the MDM "survivor" rule, here quality ≈ length) —
    plus merge provenance (member count, total bytes, distinct
    sources). This is the step that turns dedup CLUSTERS into an
    actionable keep/drop list; singletons survive as themselves.

    The survivor pick is the registry's lexicographic struct-max
    discipline (max over (n_chars, -doc_id), negate back), so the
    choice is total and engine-independent. Scale: clustering runs on
    the collapsed rep graph (minhash_components); the survivorship pass
    is one cluster-keyed aggregate over the membership table."""
    from ..operators.dedup import minhash_components

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    clusters = minhash_components(docs, threshold=0.7)
    joined = clusters.join(
        docs.select("doc_id", "n_chars", "source"), "doc_id"
    )
    return joined.groupBy("cluster_id").agg(
        (
            -F.max(
                F.struct(
                    F.col("n_chars").alias("q"),
                    (-F.col("doc_id")).alias("nd"),
                )
            )["nd"]
        ).alias("survivor_doc"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


@register(
    "dedup_incremental_probe",
    f"""
WITH {_minhash_sql_cte().lstrip()},
bands AS ({_minhash_bands_sql()}),
sets AS (
  SELECT doc_id, list(DISTINCT sh) AS units, count(DISTINCT sh) AS n_units
  FROM shg GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM bands n JOIN bands c ON n.band = c.band AND n.key = c.key
  WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
)
SELECT cand.new_id, cand.corpus_id,
       len(list_intersect(sn.units, sc.units))
         / (sn.n_units + sc.n_units
            - len(list_intersect(sn.units, sc.units))) AS jaccard
FROM cand
JOIN sets sn ON sn.doc_id = cand.new_id
JOIN sets sc ON sc.doc_id = cand.corpus_id
WHERE len(list_intersect(sn.units, sc.units))
        / (sn.n_units + sc.n_units
           - len(list_intersect(sn.units, sc.units))) >= 0.7
""",
)
def q_dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup probe: documents with
    ``doc_id % 10 == 0`` play the newly arrived batch and are probed
    against the rest of the corpus through an ASYMMETRIC LSH band join
    (operators/dedup.py minhash_probe_pairs) — no corpus×corpus pair is
    ever generated, so per-arrival cost tracks the delta, not history.
    This is the production shape of dedup-on-ingest; the full-corpus
    twin is dedup_minhash_lsh.

    One shared shingle-set pass feeds both sides; each side collapses
    to distinct-set reps before banding (duplication-invariance), and
    matches expand back output-bound."""
    from ..operators.dedup import minhash_probe_pairs, persist_tracked, shingle_sets

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    sets = persist_tracked(shingle_sets(docs))
    new_sets = sets.where(F.col("doc_id") % 10 == 0)
    corpus_sets = sets.where(F.col("doc_id") % 10 != 0)
    return minhash_probe_pairs(new_sets, corpus_sets, threshold=0.7)


#: Denylist scrubbing pattern (word-boundary alternation): ASCII-only, so
#: Java and RE2 regex semantics agree byte-for-byte (text_normalize rule).
_DENYLIST_RE = r"\b(spark|stream|merge)\b"


@register(
    "denylist_scan",
    rf"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN len(regexp_extract_all(text, '{_DENYLIST_RE}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(len(regexp_extract_all(text, '{_DENYLIST_RE}')))
            AS BIGINT) AS total_hits
FROM documents
GROUP BY source
""",
)
def q_denylist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-term scan (the PII/secret-scrubbing audit shape): per
    source, how many documents mention a denylisted term and how many
    total hits — the report a compliance gate produces before release.
    Word-boundary ASCII alternation, so Java and RE2 agree
    byte-for-byte; one scan, one source-keyed aggregate with map-side
    partials. At 100 TB the same query costs one pass — counts only,
    no flagged rows materialize."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(_DENYLIST_RE)))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(hits > 0, 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.sum(hits).cast("long").alias("total_hits"),
    )


@register(
    "denylist_redact",
    rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_DENYLIST_RE}')) AS BIGINT)
         AS n_hits,
       md5(regexp_replace(text, '{_DENYLIST_RE}', '[REDACTED]', 'g'))
         AS redacted_md5,
       CAST(length(regexp_replace(text, '{_DENYLIST_RE}', '[REDACTED]', 'g'))
            AS BIGINT) AS redacted_len
FROM documents
WHERE len(regexp_extract_all(text, '{_DENYLIST_RE}')) > 0
""",
)
def q_denylist_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-term REDACTION with bitwise proof: flagged documents
    get every denylisted term replaced by a placeholder, and the query
    returns the md5 of the redacted text — so the oracle check proves
    both engines produced the IDENTICAL scrubbed byte stream, not just
    matching counts (the property a compliance pipeline actually needs
    before the redacted corpus ships). Scan-shaped: row-local regex +
    hash, a filter, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(_DENYLIST_RE)))
    red = F.regexp_replace(F.col("text"), _DENYLIST_RE, "[REDACTED]")
    return (
        docs.select(
            "doc_id",
            hits.cast("long").alias("n_hits"),
            F.md5(red.cast("binary")).alias("redacted_md5"),
            F.length(red).cast("long").alias("redacted_len"),
        )
        .where(F.col("n_hits") > 0)
    )


#: Structured-PII regex families (VERDICT r6 item 6). ASCII-only, no
#: bounded-repetition braces beyond {m,n} (supported identically by Java
#: and RE2), so both engines match byte-for-byte.
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
_PII_PHONE_RE = r"\+[1-9][0-9]{7,14}"
_PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

#: Deterministic PII enrichment: the synthetic corpus carries no PII, so
#: the render stage (identical expression both engines) embeds an email,
#: an E.164 phone, and an IPv4 address derived from doc_id — the
#: redactor is then exercised on real pattern instances in every row.
_PII_RENDER_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com or +15'"
    " || lpad(CAST((doc_id * 7919) % 100000000 AS VARCHAR), 8, '0')"
    " || ' at ' || CAST(10 + doc_id % 240 AS VARCHAR)"
    " || '.' || CAST((doc_id * 37) % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 91) % 256 AS VARCHAR)"
    " || '.' || CAST(1 + doc_id % 254 AS VARCHAR)"
)


def _pii_render_col():
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        s(did),
        F.lit("@mail"),
        s(did % 7),
        F.lit(".example.com or +15"),
        F.lpad(s((did * 7919) % 100000000), 8, "0"),
        F.lit(" at "),
        s(did % 240 + 10),
        F.lit("."),
        s((did * 37) % 256),
        F.lit("."),
        s((did * 91) % 256),
        F.lit("."),
        s(did % 254 + 1),
    )


@register(
    "pii_redact",
    f"""
WITH rendered AS (
  SELECT doc_id, {_PII_RENDER_SQL} AS pii_text FROM documents
),
red AS (
  SELECT doc_id, pii_text,
         regexp_replace(
           regexp_replace(
             regexp_replace(pii_text, '{_PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PII_PHONE_RE}', '[PHONE]', 'g'),
           '{_PII_IPV4_RE}', '[IP]', 'g') AS redacted
  FROM rendered
)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii_text, '{_PII_EMAIL_RE}')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(pii_text, '{_PII_PHONE_RE}')) AS BIGINT)
         AS n_phone,
       CAST(len(regexp_extract_all(pii_text, '{_PII_IPV4_RE}')) AS BIGINT)
         AS n_ip,
       md5(redacted)                       AS redacted_md5,
       CAST(length(redacted) AS BIGINT)    AS redacted_len
FROM red
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-PII redaction (VERDICT r6 item 6): the denylist_redact
    discipline extended to the pattern families a compliance gate
    actually scrubs — emails, E.164 phone numbers, IPv4 addresses —
    applied sequentially (email → phone → ip, declared order shared by
    the oracle) with per-family hit counts measured pre-redaction and
    an md5-of-scrubbed-bytes proof that both engines produced the
    IDENTICAL redacted byte stream. Scan-shaped: row-local regex +
    hash, zero shuffles — one pass at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pii = _pii_render_col()
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(pii, _PII_EMAIL_RE, "[EMAIL]"),
            _PII_PHONE_RE,
            "[PHONE]",
        ),
        _PII_IPV4_RE,
        "[IP]",
    )
    n_of = lambda p: F.size(F.regexp_extract_all(pii, F.lit(p), 0)).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        n_of(_PII_EMAIL_RE).alias("n_email"),
        n_of(_PII_PHONE_RE).alias("n_phone"),
        n_of(_PII_IPV4_RE).alias("n_ip"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )


@register(
    "embedding_pq_audit",
    """
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sgrid AS (SELECT unnest(range(0, 8)) AS s),
sub AS (
  SELECT vec_id, s, list_slice(e, s*8 + 1, s*8 + 8) AS sv
  FROM d, sgrid
),
cents AS (
  SELECT s, vec_id AS cid, list_slice(e, s*8 + 1, s*8 + 8) AS cv
  FROM d, sgrid WHERE vec_id < 8
),
dists AS (
  SELECT sub.vec_id, sub.s, cents.cid,
         list_sum(list_transform(list_zip(sv, cv),
                                 x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
  FROM sub JOIN cents ON sub.s = cents.s
),
assigned AS (
  SELECT vec_id, s,
         (min(struct_pack(d := dist, c := cid))).c AS centroid,
         (min(struct_pack(d := dist, c := cid))).d AS err
  FROM dists GROUP BY vec_id, s
)
SELECT s AS subspace, centroid,
       CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(sum(CAST(floor(err * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT))
            AS BIGINT) AS err_units
FROM assigned
GROUP BY s, centroid
""",
)
def q_embedding_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit — the codebook-assignment half of an
    IVF-PQ index build: each 64-dim vector splits into 8 contiguous
    8-dim subvectors, each subvector snaps to its nearest of 8 seed
    centroids (argmin L2, ties to the smallest centroid id via the
    struct-min discipline), and the audit reports per-(subspace,
    centroid) population plus total quantization error. Balanced
    populations and falling error are what you check before freezing a
    PQ codebook; similarity_ivf_topk holds the coarse-cell half.

    Determinism: distances fold in array order (same zip/fold shape as
    the IVF oracle); the corpus error SUM quantizes each per-vector
    error to integer 1e-9 units first (floor(x·1e9+0.5) — the
    operators/graph.py rule) so the aggregate is exact integer
    addition. Scale: centroids are a BOUNDED build (8 rows — hard
    broadcast is legitimate per the linter policy); everything else is
    scan-shaped with one (subspace, centroid) aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    sub = d.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col("e"), s * 8 + 1, 8).alias("sv"),
                    )
                    for s in range(8)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.s").alias("s"), F.col("x.sv").alias("sv"))
    cents = (
        d.where(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice(F.col("e"), s * 8 + 1, 8).alias("cv"),
                        )
                        for s in range(8)
                    ]
                )
            ).alias("x"),
        )
        .select("cid", F.col("x.s").alias("s"), F.col("x.cv").alias("cv"))
    )
    sqdist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = sub.join(F.broadcast(cents), "s").select(
        "vec_id", "s", "cid", sqdist.alias("dist")
    )
    assigned = dists.groupBy("vec_id", "s").agg(
        F.min(F.struct(F.col("dist").alias("d"), F.col("cid").alias("c")))
        .alias("m")
    )
    err_units = F.floor(F.col("m.d") * 1e9 + F.lit(0.5)).cast("long")
    return assigned.select(
        F.col("s").alias("subspace"),
        F.col("m.c").alias("centroid"),
        err_units.alias("_eu"),
    ).groupBy("subspace", "centroid").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("_eu").cast("long").alias("err_units"),
    )


# --- token-id encoding (round 7, session 2) ----------------------------------

_ENC_VOCAB = 1000  # vocabulary size (top tokens by count)
_ENC_PREFIX = 24  # tokens encoded per document


@register(
    "token_id_encode",
    f"""
WITH counts AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest({_TOKENS}) AS token FROM documents)
  GROUP BY token
),
v AS (
  SELECT list(token ORDER BY cnt DESC, token) AS vlist
  FROM (SELECT token, cnt FROM counts
        ORDER BY cnt DESC, token LIMIT {_ENC_VOCAB})
),
enc AS (
  SELECT doc_id,
         list_transform(list_slice({_TOKENS}, 1, {_ENC_PREFIX}),
                        t -> CAST(list_position(v.vlist, t) AS BIGINT))
           AS ids
  FROM documents, v
)
SELECT doc_id,
       array_to_string(list_transform(ids, i -> CAST(i AS VARCHAR)), ' ')
         AS ids_str,
       CAST(len(ids) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(ids, i -> i = 0)) AS BIGINT) AS n_oov
FROM enc
""",
)
def q_token_id_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-to-id encoding — the stage between tokenizer training
    (bpe_top_merges builds the rules, vocab_top_tokens the vocabulary)
    and sequence packing (pack_sequences): each document's first 24
    tokens mapped to integer ids by frequency rank, with id 0 as UNK
    for out-of-vocabulary tokens. The id arrays are what a training
    loader memory-maps; n_oov is the coverage metric that sizes the
    vocabulary.

    Plan: the vocabulary is a TakeOrdered top-1000 (a DECLARED
    constant), so the encode join is a BroadcastHashJoin no matter the
    corpus size — documents posexplode to (doc, pos, token) narrow
    rows, match the broadcast vocab, and re-assemble in-partition via
    a doc-keyed aggregate with a position-sorted collect. One shuffle
    on doc_id; the rank window runs over exactly 1000 survivor rows.
    The oracle encodes via list_position against the same ordered
    vocabulary list (position = rank; 0 = absent = UNK)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(
        _ENC_VOCAB
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    vocab = top.select(
        "token", F.row_number().over(w).cast("long").alias("id")
    )
    pos = docs.select(
        "doc_id",
        F.posexplode(
            F.slice(F.split(F.col("text"), " "), 1, _ENC_PREFIX)
        ).alias("pos", "token"),
    )
    joined = pos.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0)).cast("long").alias("id")
    )
    enc = joined.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("id")))
            ),
            lambda s: s["id"],
        ).alias("ids")
    )
    return enc.select(
        "doc_id",
        # Space-joined id string, not a raw array<long>: the driver's
        # canonicalizer pandas-sorts raw column values and numpy arrays
        # are unhashable (round-8 driver red). plans/linter.py now bans
        # top-level array/map/struct in oracle-backed final schemas.
        F.array_join(
            F.transform("ids", lambda i: i.cast("string")), " "
        ).alias("ids_str"),
        F.size("ids").cast("long").alias("n_tokens"),
        F.size(F.filter("ids", lambda i: i == 0)).cast("long").alias("n_oov"),
    )


# --- length-bucketed batch planning (round 7, session 3) ----------------------

_BUCKET_WIDTH = 16  # token-length bucket width (pad target granularity)
_BATCH_TOKENS = 256  # padded-token budget per training batch


@register(
    "length_bucket_batches",
    f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         (CAST(len(string_split(text, ' ')) AS BIGINT) - 1)
           // {_BUCKET_WIDTH} AS bucket,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
r AS (
  SELECT *,
         (bucket + 1) * {_BUCKET_WIDTH} AS pad_len,
         greatest({_BATCH_TOKENS} // ((bucket + 1) * {_BUCKET_WIDTH}), 1)
           AS per_batch,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY k, doc_id)
           AS bucket_rn
  FROM d
)
SELECT bucket, (bucket_rn - 1) // per_batch AS batch_id, pad_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(count(*) * pad_len AS BIGINT) AS padded_tokens,
       CAST(count(*) * pad_len - sum(n_tokens) AS DOUBLE)
         / CAST(count(*) * pad_len AS DOUBLE) AS waste_ratio
FROM r
GROUP BY bucket, batch_id, pad_len
""",
)
def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning — the training-loader stage after
    tokenization: documents are bucketed by token length (width-16
    buckets, each padded to the bucket ceiling), deterministically
    ordered within each bucket by the md5 shuffle key, and cut into
    batches of at most _BATCH_TOKENS padded tokens (an oversized doc
    gets a singleton batch). The per-batch summary — real vs padded
    tokens and the padding-waste ratio — is exactly the report that
    justifies bucketing over naive fixed-length batching.

    Plan: NO per-bucket window ever sees the corpus —
    operators/ranking.with_group_rank derives the within-bucket rank
    from ONE two-phase global rank over (bucket, shuffle_key, doc_id)
    minus a broadcast O(#buckets) min-rank table. A dominant bucket
    (most real corpora pile into 2-3 length bands) therefore spreads
    over all range partitions instead of hashing onto one task, which
    is what Window.partitionBy(bucket) would do at 100 TB. Batch ids
    are pure arithmetic on the rank; one final map-side-combinable
    aggregate."""
    from ..operators.ranking import with_group_rank

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    w = F.lit(_BUCKET_WIDTH).cast("long")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("_k"),
    ).withColumn("bucket", F.floor((F.col("n_tokens") - 1) / w).cast("long"))
    d = d.withColumn("pad_len", (F.col("bucket") + 1) * w).withColumn(
        "per_batch",
        F.greatest(
            F.floor(F.lit(_BATCH_TOKENS).cast("long") / F.col("pad_len")),
            F.lit(1),
        ).cast("long"),
    )
    j = with_group_rank(
        d, ["bucket"], ["_k", "doc_id"], rank_col="_bucket_rn"
    )
    batched = j.withColumn(
        "batch_id",
        F.floor((F.col("_bucket_rn") - 1) / F.col("per_batch")).cast("long"),
    )
    agg = batched.groupBy("bucket", "batch_id", "pad_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )
    return agg.select(
        "bucket",
        "batch_id",
        "pad_len",
        "n_docs",
        "sum_tokens",
        (F.col("n_docs") * F.col("pad_len")).cast("long").alias("padded_tokens"),
        (
            (F.col("n_docs") * F.col("pad_len") - F.col("sum_tokens")).cast(
                "double"
            )
            / (F.col("n_docs") * F.col("pad_len")).cast("double")
        ).alias("waste_ratio"),
    )


# --- weighted source interleave (round 7, session 3) ---------------------------

#: Integer strides per source: stride = LCM / weight for the declared
#: mixture weights {src0: 4, src1: 2, rest: 1} (LCM base 12). The k-th
#: document of a source is emitted at virtual time k * stride, so src0
#: appears 4x as often as a default source in any prefix of the order —
#: the fixed-ratio source-mixing schedule a training run consumes.
_INTERLEAVE_STRIDES = {"src0": 3, "src1": 6}
_INTERLEAVE_DEFAULT_STRIDE = 12

#: The stride dict is the single source of truth: both the oracle CASE
#: and the Spark when-chain are generated from it below.
_STRIDE_CASE_SQL = " ".join(
    f"WHEN source = '{s}' THEN {v}" for s, v in _INTERLEAVE_STRIDES.items()
)


def _stride_col():
    expr = None
    for s, v in _INTERLEAVE_STRIDES.items():
        branch = (F.col("source") == s, F.lit(v))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    return expr.otherwise(F.lit(_INTERLEAVE_DEFAULT_STRIDE))


@register(
    "source_interleave_order",
    f"""
WITH d AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
         CASE {_STRIDE_CASE_SQL}
              ELSE {_INTERLEAVE_DEFAULT_STRIDE} END AS stride
  FROM documents
),
r AS (
  SELECT source, doc_id, stride,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY k, doc_id)
           AS src_rank
  FROM d
),
v AS (
  SELECT source, doc_id, CAST(src_rank AS BIGINT) AS src_rank,
         CAST(src_rank * stride AS BIGINT) AS vt
  FROM r
)
SELECT ROW_NUMBER() OVER (ORDER BY vt, source, doc_id) AS interleave_rank,
       source, doc_id, src_rank, vt
FROM v
""",
)
def q_source_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleave — the data-mixture
    schedule: each source's documents (in their own md5-shuffled order)
    are merged into ONE global training order so that source s with
    weight w_s appears w_s times per 12 virtual-time units in every
    prefix (src0 4x, src1 2x, others 1x). Unlike source_quota_sample
    (which CAPS volume) this PACES it — the stream a curriculum loader
    reads is ratio-correct at every step, not just in aggregate.

    Plan: both ranks are two-phase global ranks (operators/ranking) —
    the per-source rank via with_group_rank (broadcast min-rank
    subtraction over the O(#sources) min table), the final interleave
    rank range-partitions on (vt, source). No single-partition window,
    no Window.partitionBy(source) hot task when one source dominates.
    Everything is exact integer arithmetic (strides, not float ratios),
    so the order is bit-reproducible across engines and reruns."""
    from ..operators.ranking import with_global_rank, with_group_rank

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    d = docs.select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("_k"),
        _stride_col().cast("long").alias("_stride"),
    )
    v = (
        with_group_rank(d, ["source"], ["_k", "doc_id"], rank_col="src_rank")
        .withColumn("vt", (F.col("src_rank") * F.col("_stride")).cast("long"))
        .select("source", "doc_id", "src_rank", "vt")
    )
    out = with_global_rank(
        v, ["vt", "source", "doc_id"], rank_col="interleave_rank"
    )
    return out.select("interleave_rank", "source", "doc_id", "src_rank", "vt")


# --- smoothed target encoding -------------------------------------------------


@register(
    "target_encode_smoothed",
    """
WITH agg AS (
  SELECT o_orderpriority, count(*) AS n,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM orders GROUP BY 1
), gstat AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(pos) AS BIGINT) AS pos_tot
  FROM agg
)
SELECT o_orderpriority, n, pos,
       CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS target_rate,
       (CAST(pos AS DOUBLE)
        + CAST(20 AS DOUBLE) * (CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)))
         / (CAST(n AS DOUBLE) + CAST(20 AS DOUBLE)) AS enc_smoothed
FROM agg CROSS JOIN gstat
""",
)
def q_target_encode_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (the m-estimate / empirical-Bayes feature
    encoder): per-category positive rate shrunk toward the global rate
    by a pseudo-count prior of m = 20 — enc = (pos + m·p̄)/(n + m). The
    standard leak-resistant categorical encoder a feature pipeline fits
    before training.

    Plan shape: ONE map-side-combinable aggregate over the fact scan
    (category cardinality is bounded), a 1-row global rollup of the tiny
    agg, cross-joined back broadcast-style. Every encoding input is an
    exact integer count, so the double arithmetic (two divisions, one
    multiply-add) is bit-identical across engines given the shared
    expression shape."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    glob = agg.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("pos").cast("long").alias("pos_tot"),
    )
    n_d = F.col("n").cast("double")
    pos_d = F.col("pos").cast("double")
    prior = F.col("pos_tot").cast("double") / F.col("n_tot").cast("double")
    m = F.lit(20).cast("double")
    return agg.crossJoin(F.broadcast(glob)).select(
        "o_orderpriority",
        "n",
        "pos",
        (pos_d / n_d).alias("target_rate"),
        ((pos_d + m * prior) / (n_d + m)).alias("enc_smoothed"),
    )


# --- order-independent shard checksum manifest --------------------------------


def _shard_checksum_oracle() -> str:
    h = hashing.rolling_hash_sql("text")
    return f"""
WITH hashed AS (
  SELECT doc_id, n_chars, CAST(doc_id % 16 AS BIGINT) AS shard, {h} AS h
  FROM documents
)
SELECT shard,
       count(*)                        AS n_docs,
       min(doc_id)                     AS id_lo,
       max(doc_id)                     AS id_hi,
       CAST(SUM(n_chars) AS BIGINT)    AS n_chars_total,
       CAST(SUM(h) AS BIGINT)          AS checksum_sum,
       CAST(bit_xor(h) AS BIGINT)      AS checksum_xor
FROM hashed GROUP BY shard
"""


@register("shard_checksum_manifest", _shard_checksum_oracle())
def q_shard_checksum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent shard checksum manifest — the integrity record a
    dataset publisher ships next to each shard so any consumer (or a
    re-run of the pipeline) can verify content equality WITHOUT agreeing
    on row order: per shard (doc_id mod 16), row count, id range, total
    chars, and two commutative content checksums (sum and xor of the
    cross-engine rolling hash of the text).

    Both checksums are order- and partition-independent by algebra
    (integer + and ^ are commutative/associative), so the manifest is
    stable under any executor layout — the property that makes it a
    valid cross-cluster equality witness at 100 TB. One scan, one
    map-side-combinable aggregate; hash values stay < P ≈ 2^30 so a
    BIGINT sum holds ~2^33 rows per shard (swap to a DECIMAL(38,0)
    accumulator beyond that)."""
    d = load_table(spark, sf_dir, "documents", parallelize=True)
    hashed = d.select(
        "doc_id",
        "n_chars",
        (F.col("doc_id") % 16).cast("long").alias("shard"),
        hashing.rolling_hash("text").alias("h"),
    )
    return hashed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("id_lo"),
        F.max("doc_id").alias("id_hi"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
        F.sum("h").cast("long").alias("checksum_sum"),
        F.bit_xor("h").cast("long").alias("checksum_xor"),
    )


# --- largest-remainder quota apportionment ------------------------------------

_APPORTION_BUDGET = 10_007  # deliberately not a multiple of anything


@register(
    "quota_apportion",
    f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM counts
), parts AS (
  SELECT source, n_docs,
         CAST(({_APPORTION_BUDGET} * n_docs) // n_tot AS BIGINT) AS base,
         CAST(({_APPORTION_BUDGET} * n_docs) % n_tot AS BIGINT) AS rem
  FROM counts CROSS JOIN tot
), ranked AS (
  SELECT source, n_docs, base, rem,
         row_number() OVER (ORDER BY rem DESC, source) AS rn,
         CAST(SUM(base) OVER () AS BIGINT) AS base_tot
  FROM parts
)
SELECT source, n_docs,
       CAST(base + CASE WHEN rn <= {_APPORTION_BUDGET} - base_tot
                        THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM ranked
""",
)
def q_quota_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) quota apportionment: split a fixed
    sample budget across sources proportionally to their document counts,
    with the fractional remainders resolved so the quotas sum EXACTLY to
    the budget — floor(B·nᵢ/N) each, then +1 to the largest remainders
    (ties broken by source name). The deterministic twin of
    source_quota_sample's per-source rates: this is how a curation run
    turns target mixture weights into exact per-source row budgets.

    All arithmetic is exact integers (B·nᵢ stays ≪ 2^63; `div`/`%` are
    engine-identical), so quotas are bit-stable. The only window runs
    over the per-SOURCE table — bounded by source cardinality, the same
    tiny-frame class as operators/ranking.py's totals window; the data
    scan contributes one map-side-combinable count."""
    d = load_table(spark, sf_dir, "documents", parallelize=True)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").cast("long").alias("n_tot"))
    b = _APPORTION_BUDGET
    parts = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"CAST(({b} * n_docs) div n_tot AS BIGINT)").alias("base"),
        F.expr(f"CAST(({b} * n_docs) % n_tot AS BIGINT)").alias("rem"),
    )
    w_rn = Window.orderBy(F.desc("rem"), F.asc("source"))
    w_all = Window.orderBy(F.desc("rem"), F.asc("source")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = parts.select(
        "source",
        "n_docs",
        "base",
        F.row_number().over(w_rn).alias("rn"),
        F.sum("base").over(w_all).cast("long").alias("base_tot"),
    )
    quota = F.col("base") + F.when(
        F.col("rn") <= F.lit(b) - F.col("base_tot"), 1
    ).otherwise(0)
    return ranked.select(
        "source", "n_docs", quota.cast("long").alias("quota")
    )


# --- SimHash recall audit ------------------------------------------------------


def _simhash_recall_oracle() -> str:
    truth = _shared_oracles.jaccard_pairs_global_sql(0.5)
    return f"""
WITH ex AS (
  SELECT id_a, id_b FROM ({truth})
),
fps AS (
  SELECT doc_id, simhash
  FROM (WITH {_simhash_sql_cte()} SELECT doc_id, simhash FROM fp)
)
SELECT
  count(*) AS n_true,
  CAST(SUM(CASE WHEN bit_count(xor(fa.simhash, fb.simhash)) <= 3
                THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
  CAST(SUM(CASE WHEN bit_count(xor(fa.simhash, fb.simhash)) <= 3
                THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS recall
FROM ex
JOIN fps fa ON fa.doc_id = ex.id_a
JOIN fps fb ON fb.doc_id = ex.id_b
"""


@register("simhash_recall_audit", _simhash_recall_oracle())
def q_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash knob-tuning report, completing the recall-audit pair
    (minhash_recall_audit covers LSH): exact PPJoin Jaccard ≥ 0.5 pairs
    are the ground truth; a true pair counts as FOUND when its 28-bit
    SimHash fingerprints are within hamming ≤ 3 — exactly the pairs
    dedup_simhash emits, since its banded candidate generation has
    perfect recall at d ≤ 3 by pigeonhole (4 bands, d < n_bands ⇒ some
    band matches). Unlike MinHash-vs-Jaccard (estimator of the same
    quantity), SimHash hamming is a DIFFERENT similarity — this audit
    measures how much of the Jaccard truth the cheaper fingerprint
    family keeps, which is the decision input for choosing the 100 TB
    first-pass filter. Hamming is evaluated only ON the true pairs (two
    fingerprint hash joins), never all-pairs. Truth and fingerprints
    share ONE persisted shingle-profile pass
    (operators.dedup.simhash_recall / shingle_profiles) — the dominant
    explode/dictionary/groupBy stage runs once, not twice (parity at
    sf0.1 under this VM's jitter; the structural win is one dominant
    pass instead of two, which is what matters when that pass scans the
    whole corpus)."""
    from ..operators.dedup import simhash_recall

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return simhash_recall(docs, threshold=0.5, max_hamming=3)


# --- group-aware split (leakage-preventing) ------------------------------------


@register(
    "group_split_users",
    """
WITH assigned AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ((user_id % 100) * 2654435761) % 100 < 80 THEN 'train'
              WHEN ((user_id % 100) * 2654435761) % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM events
)
SELECT split,
       count(DISTINCT user_id) AS n_users,
       count(*)                AS n_events,
       min(ts)                 AS ts_lo,
       max(ts)                 AS ts_hi
FROM assigned GROUP BY split
""",
)
def q_group_split_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/valid/test split: the split key is a hash of the
    GROUP (user), not the row, so every event of a user lands in the same
    split — the assignment that prevents user-level leakage (a row-hash
    split like dataset_split puts half a user's history in train and the
    other half in test, and any model with user-level memory cheats).
    Knuth-multiplicative hash on the integer key, mod-reduced BEFORE the
    multiply: (u·K) mod 100 depends only on u mod 100, so
    ((u % 100)·K) % 100 is the identical assignment for every bigint id
    while the product stays < 100·K < 2^38 — structurally overflow-free
    in both engines (ADVICE r7: the unreduced form silently wraps in
    Spark past 2^63 where DuckDB raises, so the engines would diverge
    rather than both failing).

    Scale: assignment is a scan-local expression (no shuffle to decide
    membership — contrast with a join against a precomputed assignment
    table); the per-split rollup carries the only exchange. The oracle
    replays assignment + rollup; the no-user-crosses-splits invariant is
    structural (one hash, one user, one split) and pinned in
    tests/test_round7b_ops.py."""
    e = load_table(spark, sf_dir, "events")
    h = ((F.col("user_id") % 100) * F.lit(2654435761)) % 100
    split = (
        F.when(h < 80, F.lit("train"))
        .when(h < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        e.select("user_id", "event_id", "ts", split.alias("split"))
        .groupBy("split")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("ts_lo"),
            F.max("ts").alias("ts_hi"),
        )
    )
