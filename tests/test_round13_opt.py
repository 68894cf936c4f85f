"""Round-13 optimization pins: the rewritten internals must equal their
pre-optimization relational forms bitwise.

* lloyd_train / _coarse_cells now assign cells via a narrow argmin over
  a one-row broadcast of the centroid set — pinned here against the old
  crossJoin(broadcast) + groupBy struct-min / row_number forms, written
  out inline as the reference.
* suffix_rank_tables pairs shifted ranks via lead(r, d) over (doc, pos)
  — pinned against the old (doc, pos+d) self-join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ohlc_spark_streaming_spark.functions.vectorops import sqdist
from ohlc_spark_streaming_spark.operators import similarity as sim_ops


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
