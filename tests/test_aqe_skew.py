"""AQE skew handling, demonstrated empirically (r6 verdict item 6).

`events_sessionize_skew` asserts the PLAN-side mitigation (bucketed
two-stage windows) because AQE's skew split only applies to shuffle
JOIN reads, not window partitions. This file proves the rest of that
claim with the engine's own runtime, on the same synthetic hot key
(every third user collapsed onto uid -1, ~1/3 of all events):

1. A plain sort-merge dim join with NO plan-side mitigation triggers
   OptimizeSkewedJoin — the executed plan's join node carries
   ``skew=true`` and the hot partition's read is rewritten into
   map-range splits — and the re-plan is invisible in the results.
2. The runtime split has hard boundaries, measured here so the plan
   gates aren't redundant belt-and-braces: (a) it only matches joins
   whose sides are BARE shuffle outputs — an aggregation between the
   shuffle and the join (the canonical enrich-with-counts shape)
   blocks it, because splitting a reducer partition under an agg
   would duplicate groups; (b) splits are by map-output ranges, so a
   single-map shuffle (one small input file) cannot be split however
   skewed it is.

Together: joins get the hot key handled by AQE at runtime; windowed /
aggregated shapes need the mitigation in the plan shape — which is
exactly what the bucketed sessionization provides (plan-gated in
tests/test_plans.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# Lowered thresholds so the sf0.01 fixture's hot partition (tens of
# KB) counts as skewed: a partition is split when it exceeds
# max(thresholdInBytes, factor * median). On a real cluster the
# defaults (256 MB floor, factor 5) express the same rule at
# production scale.
SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
    # Force the sort-merge path: a broadcast join has no shuffle read
    # to split, so AQE skew handling would never be exercised.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # The session sizes shuffles by core count; the skew thresholds above
    # were set against 32 shuffle partitions, so pin that on any host.
    "spark.sql.shuffle.partitions": "32",
}


@pytest.fixture()
def skew_confs(spark):
    saved = {}
    for k, v in SKEW_CONFS.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _hot_events(spark, sf_dir):
    from boltzmannclean_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    # repartition: the fixture is ONE parquet file = one map task, and
    # skew splits are by map-output ranges — give the skewed shuffle
    # multiple maps, as any real multi-file table has.
    return ev.repartition(8).select(
        F.when(F.col("user_id") % 3 == 0, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("uid"),
        "event_id",
    )


def _dim(spark, n):
    return spark.range(-1, n).select(
        F.col("id").alias("uid"), (F.col("id") % 7).alias("segment")
    )


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_join_split_fires_on_hot_key(spark, oracle_sf_dir, skew_confs):
    e = _hot_events(spark, oracle_sf_dir)
    joined = e.join(_dim(spark, 100_000), "uid").select(
        "uid", "event_id", "segment"
    )
    rows = joined.collect()  # execute THIS DataFrame so its own
    # QueryExecution holds the final adaptive plan
    assert len(rows) == e.count()

    plan = _executed_plan(joined)
    assert "isFinalPlan=true" in plan, plan[:500]
    # OptimizeSkewedJoin marks the join node skew=true and rewrites the
    # skewed side's shuffle read into map-range splits.
    assert "skew=true" in plan, (
        "AQE skew split did not engage on the hot key; plan:\n" + plan[:3000]
    )
    assert "skewed" in plan  # the AQEShuffleRead node annotation


def test_aqe_skew_split_preserves_results(spark, oracle_sf_dir, skew_confs):
    e = _hot_events(spark, oracle_sf_dir)
    dim = _dim(spark, 100_000)
    with_skew = sorted(
        e.join(dim, "uid").select("uid", "event_id", "segment").collect()
    )
    # Reference run: same join with the skew split disabled — the
    # runtime re-plan must be invisible in the results.
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        without = sorted(
            e.join(dim, "uid").select("uid", "event_id", "segment").collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    assert with_skew == without


def test_aqe_skew_split_blocked_under_aggregation(
    spark, oracle_sf_dir, skew_confs
):
    """The boundary that justifies plan-side mitigation: joining the
    skewed feed to its own per-key aggregate (the canonical
    enrich-with-counts shape) puts a HashAggregate between the shuffle
    and the join, and OptimizeSkewedJoin correctly refuses to split —
    a partial read of a reducer partition under an agg would emit the
    same group twice. AQE handles the bare-join case; aggregated and
    windowed shapes must de-skew in the plan (bucketed sessionization,
    the map-side limited top-k)."""
    e = _hot_events(spark, oracle_sf_dir)
    counts = e.groupBy("uid").agg(F.count(F.lit(1)).alias("n_events"))
    joined = e.join(counts, "uid").select("uid", "event_id", "n_events")
    joined.collect()
    plan = _executed_plan(joined)
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" in plan
    assert "skew=true" not in plan, (
        "skew split under an aggregation would be a correctness bug; "
        "plan:\n" + plan[:3000]
    )
