"""Equivalence tests for the r15 vectorized Lloyd trainer/encoder
(functions/lloyd.py) against the round-11 JVM dataflow it replaced.

The optimization contract is bit-identity: same seeds, same
truncate-toward-zero update, same smallest-cid tie-break — so the
reference here IS the former implementation (broadcast fan-out join +
grouped min_by over struct(dist, cid)), run over inputs that exercise
negatives (residual-style vectors), ties, and empty centroids."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from boltzmannclean_spark.functions.exact import sdiv_spark  # noqa: E402
from boltzmannclean_spark.functions.lloyd import (  # noqa: E402
    assign_blocks,
    train_blocks,
)

DIMS = 8
N_BLOCKS = 4
DSUB = DIMS // N_BLOCKS


def _vec(i: int) -> list[int]:
    # Deterministic spread incl. negatives and exact duplicates
    # (ids 7 and 8 share a vector -> distance ties at every block).
    if i == 8:
        i = 7
    return [((i * 37 + d * 11) % 41) - 20 for d in range(DIMS)]


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [(i, _vec(i)) for i in range(40)]
    return spark.createDataFrame(
        rows, "vec_id long, qvec array<long>"
    ).localCheckpoint()


def _subvectors(vecs, n_blocks):
    dsub = DIMS // n_blocks
    return vecs.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("b"),
                    F.slice("qvec", b * dsub + 1, dsub).alias("qsub"),
                )
                for b in range(n_blocks)
            ])
        ).alias("s"),
    ).select("vec_id", F.col("s.b").alias("b"), F.col("s.qsub").alias("qsub"))


def _dist(dsub):
    dist = None
    for d in range(1, dsub + 1):
        t = (F.element_at("qsub", d) - F.element_at("cvec", d)) * (
            F.element_at("qsub", d) - F.element_at("cvec", d)
        )
        dist = t if dist is None else dist + t
    return dist


def _reference_train(vecs, seeds, iters, n_blocks=N_BLOCKS):
    """The former JVM formulation, verbatim semantics: per-block
    min_by(cid, struct(dist, cid)) assignment + one-shuffle update with
    truncate-toward-zero division."""
    dsub = DIMS // n_blocks
    sub = _subvectors(vecs, n_blocks)
    cent = sub.join(F.broadcast(seeds), "vec_id").select(
        F.col("vec_id").alias("cid"), "b", F.col("qsub").alias("cvec")
    )
    dist = _dist(dsub)
    for _ in range(iters):
        assigned = (
            sub.join(F.broadcast(cent), "b")
            .select("vec_id", "b", "qsub", "cid", dist.alias("dist"))
            .groupBy("vec_id", "b")
            .agg(
                F.min_by("cid", F.struct("dist", "cid")).alias("cid"),
                F.min_by("qsub", F.struct("dist", "cid")).alias("qsub"),
            )
        )
        sums = assigned.groupBy("b", "cid").agg(
            F.count(F.lit(1)).alias("m"),
            *[
                F.sum(F.element_at("qsub", d)).alias(f"s{d}")
                for d in range(1, dsub + 1)
            ],
        )
        cent = sums.selectExpr(
            "b",
            "cid",
            "array("
            + ", ".join(sdiv_spark(f"s{d}", "m") for d in range(1, dsub + 1))
            + ") AS cvec",
        ).localCheckpoint(eager=True)
    return cent


def _reference_assign(vecs, cent, n_blocks=N_BLOCKS):
    sub = _subvectors(vecs, n_blocks)
    return (
        sub.join(F.broadcast(cent), "b")
        .select(
            "vec_id", "b", "qsub", "cid", _dist(DIMS // n_blocks).alias("dist")
        )
        .groupBy("vec_id", "b")
        .agg(F.min_by("cid", F.struct("dist", "cid")).alias("cid"))
    )


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def _train(vecs, groups):
    return train_blocks(vecs, groups, id_col="vec_id", vec_col="qvec", dims=DIMS)


def _assign(vecs, groups):
    return assign_blocks(vecs, groups, id_col="vec_id", vec_col="qvec", dims=DIMS)


@pytest.mark.parametrize("iters", [1, 3])
def test_train_blocks_matches_jvm_reference(spark, vecs, iters):
    seeds = vecs.where(F.col("vec_id") < 6).select("vec_id")
    (got,) = _train(vecs, [(seeds, N_BLOCKS, iters)])
    ref = _reference_train(vecs, seeds, iters)
    assert _sorted_rows(got, ["b", "cid", "cvec"]) == _sorted_rows(
        ref, ["b", "cid", "cvec"]
    )


def test_assign_blocks_matches_jvm_reference(spark, vecs):
    seeds = vecs.where(F.col("vec_id") % 5 == 0).select("vec_id")
    (cent,) = _train(vecs, [(seeds, N_BLOCKS, 2)])
    got = _assign(vecs, [(cent, N_BLOCKS)])
    ref = _reference_assign(vecs, cent)
    assert _sorted_rows(got, ["vec_id", "b", "cid"]) == _sorted_rows(
        ref, ["vec_id", "b", "cid"]
    )
    assert {r["g"] for r in got.select("g").distinct().collect()} == {0}
    # Duplicate-vector rows tie on every block; both sides must break
    # to the smallest cid, so 7 and 8 get identical codes.
    codes = {
        (r["vec_id"], r["b"]): r["cid"]
        for r in got.where(F.col("vec_id").isin(7, 8)).collect()
    }
    for b in range(N_BLOCKS):
        assert codes[(7, b)] == codes[(8, b)]


def test_train_blocks_single_block_kmeans(spark, vecs):
    """n_blocks=1 == plain k-means (the IVF coarse-quantizer shape)."""
    seeds = vecs.where(F.col("vec_id") % 10 == 0).select("vec_id")
    (got,) = _train(vecs, [(seeds, 1, 2)])
    assert [r["b"] for r in got.collect()] == [0] * got.count()
    # partition-invariance: 1 vs 8 input partitions, identical codebook
    (got8,) = _train(vecs.repartition(8), [(seeds, 1, 2)])
    assert _sorted_rows(got, ["b", "cid", "cvec"]) == _sorted_rows(
        got8, ["b", "cid", "cvec"]
    )


# Two groups in one call, the raw IVF+PQ shape: a full-width block
# trained 3 rounds beside N_BLOCKS sub-blocks trained 1 round (so the
# later passes serve the first group only), with overlapping seed ids
# (0 and 10).
def _groups(vecs):
    return [
        (vecs.where(F.col("vec_id") % 10 == 0).select("vec_id"), 1, 3),
        (vecs.where(F.col("vec_id") < 12).select("vec_id"), N_BLOCKS, 1),
    ]


def test_grouped_training_is_bit_identical(spark, vecs):
    groups = _groups(vecs)
    full, sub = _train(vecs, groups)
    cols = ["b", "cid", "cvec"]
    (full_alone,) = _train(vecs, groups[:1])
    (sub_alone,) = _train(vecs, groups[1:])
    assert _sorted_rows(full, cols) == _sorted_rows(full_alone, cols)
    assert _sorted_rows(sub, cols) == _sorted_rows(sub_alone, cols)
    seeds_full, _, _ = groups[0]
    seeds_sub, _, _ = groups[1]
    assert _sorted_rows(full, cols) == _sorted_rows(
        _reference_train(vecs, seeds_full, 3, n_blocks=1), cols
    )
    assert _sorted_rows(sub, cols) == _sorted_rows(
        _reference_train(vecs, seeds_sub, 1), cols
    )


def test_grouped_assignment_is_bit_identical(spark, vecs):
    full, sub = _train(vecs, _groups(vecs))
    got = _assign(vecs.repartition(3), [(full, 1), (sub, N_BLOCKS)])
    cols = ["vec_id", "b", "cid"]
    for g, cent, n_blocks in ((0, full, 1), (1, sub, N_BLOCKS)):
        mine = got.where(F.col("g") == g)
        assert _sorted_rows(mine, cols) == _sorted_rows(
            _assign(vecs, [(cent, n_blocks)]), cols
        )
        assert _sorted_rows(mine, cols) == _sorted_rows(
            _reference_assign(vecs, cent, n_blocks=n_blocks), cols
        )


def test_grouped_training_on_empty_corpus(spark, vecs):
    empty = vecs.limit(0)
    full, sub = _train(empty, _groups(empty))
    assert full.count() == sub.count() == 0
    assert _assign(empty, [(full, 1), (sub, N_BLOCKS)]).count() == 0
