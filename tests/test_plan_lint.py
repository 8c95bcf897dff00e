"""Fleet-wide plan lint: every registered batch query must build a
physical plan free of error-severity anti-patterns (cartesian
products), and the warn-level exceptions must stay the explicit,
documented set — a new operator that regresses planning fails here
before it ever reaches a cluster.
"""

from __future__ import annotations

import pytest

from boltzmannclean_spark.plans.lint import lint_plan
from boltzmannclean_spark.plans.registry import all_queries

# Queries whose plans legitimately trip warn/info rules, with the reason.
ALLOWED_WARNINGS = {
    # deliberate, documented row-UDF on a 5-row post-aggregation domain
    "udf_scalar_priority": {"python-row-udf"},
    # tokenizer UDTF is a Python row generator by design
    "udtf_tokenize": {"python-row-udf"},
    # analyze()-schema UDTF demo: Python row fan-out on the 5-value
    # o_orderpriority label domain, documented as the slow path
    "udtf_analyze_dynamic": {"python-row-udf"},
    # pipeline.holt_smooth: the sort sits over the per-key grouped-map
    # Holt pass (8 keys here), above the groupBy exchange.
    "ts_holt_linear_smoothing": {"python-pass-rerun"},
    # The sort sits over the NumPy verify pass; sorting below it would
    # move both 64-dim embeddings of every candidate pair through the
    # range exchange instead of re-running one pass over the candidates.
    "dedup_embedding_cosine": {"python-pass-rerun"},
    "dedup_embedding_cosine_recall_demo": {"python-pass-rerun"},
}

#: Warn-level rules the fleet gate enforces (allowlist aside).
_GATED_WARNINGS = {"python-row-udf", "python-pass-rerun"}

# Streaming / sink / stateful queries execute on build (they run a real
# streaming query or write files inside the builder); lint only the
# plain batch plans.
_SKIP_PREFIXES = ("stream_", "sink_", "source_", "impute_", "multimodal_")


def _lintable(name: str) -> bool:
    return not name.startswith(_SKIP_PREFIXES)


@pytest.fixture(scope="module")
def registry():
    return all_queries()


def test_no_error_findings_fleet_wide(spark, sf_dir, registry):
    errors = {}
    for name, q in registry.items():
        if not _lintable(name):
            continue
        df = q.spark_fn(spark, sf_dir)
        found = lint_plan(df)
        bad = [f for f in found if f.severity == "error"]
        unexpected_warns = [
            f
            for f in found
            if f.severity == "warn"
            and f.rule not in ALLOWED_WARNINGS.get(name, set())
            # unpushed-filter triggers on derived/temp inputs too
            # (post-shuffle filters); gated only for the Python rules
            and f.rule in _GATED_WARNINGS
        ]
        if bad or unexpected_warns:
            errors[name] = bad + unexpected_warns
    assert not errors, errors


def test_lint_flags_a_real_cartesian(spark, sf_dir, registry):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    bad = nation.crossJoin(nation.select("n_name"))
    rules = {f.rule for f in lint_plan(bad)}
    assert "cartesian-product" in rules or "nested-loop-join" in rules, rules


def _identity_batches(batches):
    yield from batches


def test_lint_flags_a_range_sort_over_a_python_pass(spark):
    df = spark.range(100).mapInArrow(_identity_batches, "id long").orderBy("id")
    rules = {f.rule for f in lint_plan(df)}
    assert "python-pass-rerun" in rules, rules


def test_lint_passes_a_sort_below_the_python_pass(spark):
    from pyspark.sql import functions as F

    df = spark.range(100).orderBy(F.desc("id")).mapInArrow(
        _identity_batches, "id long"
    )
    rules = {f.rule for f in lint_plan(df)}
    assert "python-pass-rerun" not in rules, rules


@pytest.mark.parametrize(
    "name",
    [
        "impute_rbm_customer",
        "impute_rbm_distributed_fit",
        "impute_rbm_tuned",
        "impute_rbm_pipeline_persist",
    ],
)
def test_rbm_imputation_plans_run_the_python_pass_once(spark, sf_dir, registry, name):
    # The fleet gate skips impute_* (they fit eagerly while building);
    # the returned frames must still sort below the mapInPandas
    # transform, or every write runs the imputation twice.
    findings = [
        f
        for f in lint_plan(registry[name].spark_fn(spark, sf_dir))
        if f.severity == "error" or f.rule in _GATED_WARNINGS
    ]
    assert not findings, findings
