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
- ``python-pass-rerun`` (warn): a rangepartitioning Exchange whose
  input stage (down to the next Exchange, checkpointed ``Scan
  ExistingRDD`` or ``InMemoryTableScan``) holds a Python exec node
  (MapInPandas, MapInArrow, ArrowEvalPython, BatchEvalPython,
  FlatMapGroupsInPandas, ...). The range sampler runs that stage in a
  job of its own, so every Python task runs twice; sort below the
  Python pass instead. Found by walking the plan tree, not its string.

Used by tests/test_plan_lint.py as a fleet-wide gate over every
registered query, with an explicit allowlist for the documented
exceptions — so a new operator that accidentally plans a cartesian
product fails CI, not the cluster.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Finding:
    rule: str
    severity: str  # "error" | "warn" | "info"
    detail: str


#: Node names of the physical operators that run Python workers.
_PYTHON_EXEC = re.compile(r"Python|InPandas|InArrow")
#: Nodes whose output is already materialized when a job reads it: the
#: leaves of a stage as far as re-running its work is concerned.
_STAGE_LEAVES = {
    "Exchange",
    "BroadcastExchange",
    "ReusedExchange",
    "Scan ExistingRDD",
    "InMemoryTableScan",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
}


def _children(node) -> list:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name == "ResultQueryStage":
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _stage_python_nodes(node) -> list[str]:
    """Python exec nodes from ``node`` down to its stage's leaves."""
    name = node.nodeName()
    if name in _STAGE_LEAVES:
        return []
    found = [name] if _PYTHON_EXEC.search(name) else []
    for child in _children(node):
        found += _stage_python_nodes(child)
    return found


def _python_pass_reruns(node) -> list[str]:
    """Python exec nodes in the input stage of every rangepartitioning
    Exchange in the tree under ``node``."""
    found = []
    if node.nodeName() == "Exchange" and node.outputPartitioning().toString().startswith(
        "rangepartitioning"
    ):
        found += _stage_python_nodes(node.child())
    for child in _children(node):
        found += _python_pass_reruns(child)
    return found


def lint_plan(df: DataFrame, shuffle_budget: int = 6) -> list[Finding]:
    executed = df._jdf.queryExecution().executedPlan()
    plan = executed.toString()
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

    rerun = _python_pass_reruns(executed)
    if rerun:
        findings.append(
            Finding(
                "python-pass-rerun",
                "warn",
                f"range sort directly over a Python pass ({', '.join(rerun)}): "
                "the range sampler's job runs it a second time; sort below it",
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
