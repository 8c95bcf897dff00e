"""Physical-plan linter: programmatic detection of the anti-patterns
that are invisible at test scale and fatal at 100 TB.

``lint_plan(df)`` inspects the Catalyst physical plan and returns
findings the way a reviewer would read ``.explain("formatted")``:

- ``cartesian-product`` (error): a CartesianProduct node — quadratic
  row blowup; almost always a missing join key.
- ``python-row-udf`` (warn): BatchEvalPython — row-at-a-time Python in
  the plan; fine on tiny post-aggregation domains, 10-100× slower than
  Arrow/builtins anywhere hot.
- ``nested-loop-join`` (info): BroadcastNestedLoopJoin — legitimate for
  1-row bound broadcasts (the `crossJoin(broadcast(bounds))` idiom),
  quadratic if the broadcast side is actually large.
- ``unpushed-filter`` (warn): a parquet scan whose PushedFilters is
  empty while a Filter node sits in the plan — predicate not reaching
  the scan (expression not convertible, or a cast blocking pushdown).
- ``many-shuffles`` (info): more than ``shuffle_budget`` hash
  exchanges — not wrong, but each one is a full network pass at scale.

Used by tests/test_plan_lint.py as a fleet-wide gate over every
registered query, with an explicit allowlist for the documented
exceptions — so a new operator that accidentally plans a cartesian
product fails CI, not the cluster.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Finding:
    rule: str
    severity: str  # "error" | "warn" | "info"
    detail: str


def _physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def lint_plan(df: DataFrame, shuffle_budget: int = 6) -> list[Finding]:
    plan = _physical_plan(df)
    findings: list[Finding] = []

    if "CartesianProduct" in plan:
        findings.append(
            Finding(
                "cartesian-product",
                "error",
                "CartesianProduct node: quadratic pair blowup; add a join key "
                "or block/bucket the inputs",
            )
        )
    if "BatchEvalPython" in plan:
        findings.append(
            Finding(
                "python-row-udf",
                "warn",
                "row-at-a-time Python UDF (BatchEvalPython); prefer builtins "
                "or an Arrow-batched pandas UDF unless the input is tiny",
            )
        )
    if "BroadcastNestedLoopJoin" in plan:
        findings.append(
            Finding(
                "nested-loop-join",
                "info",
                "BroadcastNestedLoopJoin: fine for 1-row bound broadcasts, "
                "quadratic otherwise — confirm the broadcast side is bounded",
            )
        )

    # A scan with nothing pushed while the plan still filters somewhere:
    # the predicate did not reach the reader.
    if "PushedFilters: []" in plan and "Filter" in plan:
        findings.append(
            Finding(
                "unpushed-filter",
                "warn",
                "parquet scan with PushedFilters: [] below a Filter node — "
                "predicate not pushed (cast/expression blocks conversion?)",
            )
        )

    n_shuffles = plan.count("Exchange hashpartitioning")
    if n_shuffles > shuffle_budget:
        findings.append(
            Finding(
                "many-shuffles",
                "info",
                f"{n_shuffles} hash exchanges (> budget {shuffle_budget}); "
                "check for reusable partitioning or pre-bucketing",
            )
        )
    return findings
