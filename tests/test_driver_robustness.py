"""Guards for the driver's never-sampled tail (round-4 verdict #3).

The driver samples ≤50 of the registered queries per round, so most
entries are only ever exercised by the local parity gate. Local green
must IMPLY driver green, which needs three properties beyond value
parity — each a past or potential local-vs-driver drift source:

1. ATOMIC output cells — the driver canonicalizes with a pandas
   sort_values over every column; list/map/struct cells raise there.
   (Gated per-query in tests/test_oracle_parity.py's
   _assert_atomic_schema, over the full registry.)
2. PATH/SF-FREE output — any cell embedding the input path (e.g. a
   file-manifest query leaking `/root/testdata/sf0.01/...`) would hash
   differently when the driver runs from its own location or SF.
   (Gated per-query inside oracle_utils.assert_path_free, called from
   BOTH the oracle and rows-only parity paths — it rides the collects
   the parity suite already pays for, so the full registry is covered
   without a second sweep.)
3. DETERMINISM for rows-only entries — oracle-exact queries prove
   determinism by matching DuckDB; rows-only ones (sketches, MLlib
   RNG, stochastic imputers) must at least produce a stable row count
   and canonicalizable output across two runs in one session. That is
   THIS file's job (10 queries × 2 runs — cheap).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as m
from tests.oracle_utils import driver_sort_canon

QUERIES = m.queries()
ROWS_ONLY = sorted(set(QUERIES) - set(m.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_output_is_stable_and_atomic(spark, sf_dir, name):
    a = QUERIES[name](spark, sf_dir).toPandas()
    b = QUERIES[name](spark, sf_dir).toPandas()
    driver_sort_canon(a, name=name)  # raises on non-atomic cells
    assert len(a) == len(b), (
        f"{name}: row count unstable across runs ({len(a)} vs {len(b)})"
    )
    assert sorted(a.columns) == sorted(b.columns)


def test_local_correctness_artifact_covers_full_registry():
    """r6 verdict item 2: the committed full-registry artifact
    (LOCAL_CORRECTNESS_r{N}.json, emitted by tests/driver_replica.py
    --emit) must cover EXACTLY the registered queries — the newest
    artifact's key set == queries(). Catches the staleness class where
    a query lands after the round's artifact refresh (r6 shipped
    316/317). Regenerate with:
        python tests/driver_replica.py --emit LOCAL_CORRECTNESS_r{N}.json
    """
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = glob.glob(os.path.join(repo, "LOCAL_CORRECTNESS_r*.json"))
    assert arts, "no LOCAL_CORRECTNESS_r*.json artifact committed"
    # r13 verdict #2: frozen r{N} artifacts stop tracking the registry
    # after their round closes — mid-round coverage lives in the WIP
    # file, which is the coverage source of truth when present.
    wip = os.path.join(repo, "LOCAL_CORRECTNESS_WIP.json")
    latest = wip if os.path.exists(wip) else max(
        arts,
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    with open(latest) as fh:
        art = json.load(fh)
    missing = sorted(set(QUERIES) - set(art))
    stale = sorted(set(art) - set(QUERIES))
    assert not missing and not stale, (
        f"{os.path.basename(latest)} drifted from the registry: "
        f"missing={missing[:10]} stale={stale[:10]} — regenerate via "
        f"tests/driver_replica.py --emit"
    )


def test_subset_emit_cannot_clobber_canonical_artifact(tmp_path):
    """r8 verdict item 2: `driver_replica.py --emit` with a query subset
    must never truncate a canonical LOCAL_CORRECTNESS_r{N}.json. Covers
    all four safe_emit branches: scratch names pass through, a full
    key-set writes, a subset MERGES into an existing full artifact, and
    a subset with no mergeable base diverts to `<emit>.subset.json`.
    """
    import json

    from tests.driver_replica import safe_emit

    registry = {"q_a", "q_b", "q_c"}
    rec = {"hash_match": True, "err": None}

    # 1. non-canonical filename: subset writes as-is (X10/scratch sweeps)
    scratch = tmp_path / "X10_sweep.json"
    out = safe_emit(str(scratch), {"q_a": rec}, registry)
    assert out == str(scratch) and set(json.loads(scratch.read_text())) == {"q_a"}

    # 2. canonical + full key-set: writes the canonical file
    canon = tmp_path / "LOCAL_CORRECTNESS_r99.json"
    full = {k: rec for k in registry}
    assert safe_emit(str(canon), full, registry) == str(canon)
    assert set(json.loads(canon.read_text())) == registry

    # 3. canonical + subset over an existing full artifact: MERGES —
    #    the committed file keeps full-registry coverage
    updated = {"q_b": {"hash_match": True, "err": None, "v": 2}}
    assert safe_emit(str(canon), updated, registry) == str(canon)
    after = json.loads(canon.read_text())
    assert set(after) == registry and after["q_b"]["v"] == 2

    # 4. canonical + subset, no mergeable base: diverts to .subset.json
    fresh = tmp_path / "LOCAL_CORRECTNESS_r100.json"
    out = safe_emit(str(fresh), {"q_a": rec}, registry)
    assert out == str(fresh) + ".subset.json"
    assert not fresh.exists()
    assert set(json.loads((tmp_path / "LOCAL_CORRECTNESS_r100.json.subset.json").read_text())) == {"q_a"}


def test_verify_first_has_no_duplicates():
    """A repeated name cannot move a query (the first occurrence fixes
    its slot), so a duplicate only misstates the rotation's length."""
    from boltzmannclean_spark.plans import registry

    seen, dupes = set(), []
    for name in registry._VERIFY_FIRST:
        if name in seen:
            dupes.append(name)
        seen.add(name)
    assert not dupes, dupes


def test_missing_operator_module_fails_loudly(monkeypatch):
    """A broken operator module must surface, not shrink the registry."""
    from boltzmannclean_spark.plans import registry

    monkeypatch.setattr(
        registry,
        "_OPERATOR_MODULES",
        registry._OPERATOR_MODULES + ("boltzmannclean_spark.operators._missing",),
    )
    with pytest.raises(ModuleNotFoundError):
        registry.all_queries()


#: Jobs one ``build_ann_index`` call may launch with the benchmark's
#: raw IVF+PQ settings: the corpus checkpoint and count (2), the seed
#: collect (2), two Lloyd rounds (partials map stage + collect each),
#: the assignment checkpoint and four part writes. A budget: it may
#: only be tightened.
ANN_BUILD_JOB_BUDGET = 13


def test_ann_build_job_budget_and_tags(spark, sf_dir, tmp_path):
    """Every job of an ANN build runs on the caller's thread, so it
    carries the caller's job group (no untagged jobs from a driver-side
    pool), and the build stays within its job budget."""
    from boltzmannclean_spark import build_ann_index
    from boltzmannclean_spark.sources.catalog import load_table
    from perfbench.workloads import ANN_BUILD

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    group = "test:ann_build_budget"
    vecs = load_table(spark, sf_dir, "embeddings")
    bus.waitUntilEmpty()
    untagged_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "ann build job budget")
    try:
        build_ann_index(vecs, str(tmp_path / "idx"), **ANN_BUILD)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    untagged = set(tracker.getJobIdsForGroup(None)) - untagged_before
    jobs = tracker.getJobIdsForGroup(group)
    assert not untagged, f"{len(untagged)} ANN build jobs carry no job group"
    assert 0 < len(jobs) <= ANN_BUILD_JOB_BUDGET, (
        f"ANN build ran {len(jobs)} jobs, budget {ANN_BUILD_JOB_BUDGET}"
    )


#: Jobs of one ``graph_pagerank_bipartite`` call plus a noop write: the
#: parquet footer read, the ``orders`` broadcast and the node count
#: (which also fills the pinned edges) while building, then one
#: destination-aggregate stage per hop and the final top-25 in the
#: write. A budget: it may only be tightened.
PAGERANK_JOB_BUDGET = 9


def _jobs_in_group(spark, group: str, run) -> int:
    """Jobs ``run()`` launches, counted by tagging them with ``group``."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _call_and_write(spark, sf_dir, name):
    from boltzmannclean_spark.plans.registry import all_queries

    df = all_queries()[name].spark_fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()


def test_pagerank_job_budget(spark, sf_dir):
    """PageRank builds its edges once, counts its nodes on the driver
    and checkpoints no step, so the whole query runs a fixed handful of
    jobs instead of four per iteration."""
    name = "graph_pagerank_bipartite"
    jobs = _jobs_in_group(spark, "test:pagerank_budget",
                          lambda: _call_and_write(spark, sf_dir, name))
    assert 0 < jobs <= PAGERANK_JOB_BUDGET, (
        f"PageRank ran {jobs} jobs, budget {PAGERANK_JOB_BUDGET}"
    )


#: Jobs of one call plus a noop write, as the benchmark times these
#: registry operations. Budgets: they may only be tightened.
#: impute_rbm_distributed_fit — the parquet footer read, the fit's
#: column statistics (2) and one gradient pass per epoch (3), then the
#: input sort's sample and shuffle stages and the write;
#: impute_knn_embedding — the footer read and the masked-side collect,
#: then four adaptive query stages and the write.
OP_JOB_BUDGETS = {
    "impute_rbm_distributed_fit": 9,
    "impute_knn_embedding": 7,
}


@pytest.mark.parametrize("name", sorted(OP_JOB_BUDGETS))
def test_benchmark_op_job_budget(spark, sf_dir, name):
    jobs = _jobs_in_group(spark, f"test:budget:{name}",
                          lambda: _call_and_write(spark, sf_dir, name))
    assert 0 < jobs <= OP_JOB_BUDGETS[name], (
        f"{name} ran {jobs} jobs, budget {OP_JOB_BUDGETS[name]}"
    )


#: Jobs of one ``ann_search`` over the benchmark's probe set (4 corpus
#: vectors, k=10, nprobe=2) against a prebuilt raw IVF+PQ index, plus a
#: noop write: five parquet footer reads (the index parts and the
#: probes), ten adaptive query stages and broadcasts, and the write. A
#: budget: it may only be tightened.
ANN_SEARCH_JOB_BUDGET = 16


def test_ann_search_job_budget(spark, sf_dir, tmp_path):
    import numpy as np
    from pyspark.sql import functions as F

    from boltzmannclean_spark import ann_search, build_ann_index
    from boltzmannclean_spark.sources.catalog import load_table
    from perfbench.workloads import ANN_BUILD, ANN_K, ANN_NPROBE, ANN_PROBES

    vecs = load_table(spark, sf_dir, "embeddings")
    index = str(tmp_path / "idx")
    build_ann_index(vecs, index, **ANN_BUILD)
    ids = np.random.default_rng(0).choice(vecs.count(), ANN_PROBES, replace=False)

    def run():
        probes = load_table(spark, sf_dir, "embeddings").where(
            F.col("vec_id").isin([int(i) for i in ids]))
        out = ann_search(spark, index, probes, k=ANN_K, nprobe=ANN_NPROBE)
        out.write.format("noop").mode("overwrite").save()

    jobs = _jobs_in_group(spark, "test:ann_search_budget", run)
    assert 0 < jobs <= ANN_SEARCH_JOB_BUDGET, (
        f"ann_search ran {jobs} jobs, budget {ANN_SEARCH_JOB_BUDGET}"
    )
