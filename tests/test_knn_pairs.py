"""Bit-equivalence of the r16 mapInArrow kNN pair/distance stage
against the former r15 JVM dataflow (broadcast cross join + unrolled
63-term integer distance) — the same pin-the-former-dataflow pattern
as test_lloyd.py. Integer arithmetic must make these identical row
sets, not just close ones."""

from __future__ import annotations

from pyspark.sql import functions as F

from boltzmannclean_spark.ann import _quantize
from boltzmannclean_spark.operators.similarity import (
    _EMB_DIMS,
    KNN_K,
    MASK_MOD,
    MICRO,
    impute_knn_embedding,
)
from boltzmannclean_spark.functions.topk import topk_per_key
from boltzmannclean_spark.sources.catalog import load_table


def _reference_rows(spark, sf_dir):
    """The r15 JVM formulation, verbatim: BroadcastNestedLoopJoin
    cross + unrolled per-dimension squared difference."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", _quantize(F.col("embedding"), MICRO).alias("qvec"))
    masked = q.where(F.col("vec_id") % MASK_MOD == 0).select(
        F.col("vec_id").alias("m_id"), F.col("qvec").alias("m_vec")
    )
    cands = q.where(F.col("vec_id") % MASK_MOD != 0).select(
        F.col("vec_id").alias("c_id"), F.col("qvec").alias("c_vec")
    )
    terms = [
        (F.element_at("m_vec", d) - F.element_at("c_vec", d))
        * (F.element_at("m_vec", d) - F.element_at("c_vec", d))
        for d in range(2, _EMB_DIMS + 1)
    ]
    dist = terms[0]
    for t in terms[1:]:
        dist = dist + t
    pairs = cands.crossJoin(F.broadcast(masked)).select(
        "m_id",
        "c_id",
        dist.alias("dist_sq"),
        F.element_at("c_vec", 1).alias("c0"),
    )
    imp = (
        topk_per_key(
            pairs,
            keys=["m_id"],
            order=[F.col("dist_sq"), F.col("c_id")],
            k=KNN_K,
            rank_col="rn",
        )
        .groupBy("m_id")
        .agg(
            F.round(F.sum("c0") / float(KNN_K), 0)
            .cast("long")
            .alias("imputed_micro")
        )
    )
    truth = masked.select("m_id", F.element_at("m_vec", 1).alias("true_micro"))
    return (
        imp.join(truth, "m_id")
        .select(
            F.col("m_id").alias("vec_id"),
            "true_micro",
            "imputed_micro",
            F.abs(F.col("true_micro") - F.col("imputed_micro")).alias(
                "abs_err_micro"
            ),
        )
        .orderBy("vec_id")
        .collect()
    )


def test_knn_pairs_bit_equal_to_former_jvm_dataflow(spark, sf_dir):
    got = impute_knn_embedding(spark, sf_dir).collect()
    want = _reference_rows(spark, sf_dir)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_knn_pairs_bit_equal_at_oracle_sf(spark, oracle_sf_dir):
    got = impute_knn_embedding(spark, oracle_sf_dir).collect()
    want = _reference_rows(spark, oracle_sf_dir)
    assert len(got) > 0  # non-degenerate fixture
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
