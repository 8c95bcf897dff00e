"""Print one sha256 of the optimized plan of each named registry query.

"Same plan" for a refactor below the registry means: the optimized
logical plan text of every query it touches is identical at parent and
change once run-specific numbering is stripped. The script builds each
query's DataFrame (queries that train in the plan run their training
jobs here), takes ``queryExecution().optimizedPlan()`` and removes

  - expression ids (``vec_id#123L`` -> ``vec_idL``),
  - lambda variable ids (``lambda x_7`` -> ``lambda x``: PySpark numbers
    them from a process-wide counter, so they depend on what the process
    built before), and
  - RDD ids (``MapPartitionsRDD[42]`` -> ``MapPartitionsRDD``),

then prints ``<sha256>  <name>`` per query. Run it on both commits
(copy the script onto a ``git archive`` of the parent) and diff. What
the plan string does not print is not compared: a division's eval mode,
for one (``try_divide`` prints as ``/``).

Usage: python tools/plan_digest.py --sf-dir DIR [--show] NAME [NAME ...]
  --sf-dir  the table directory the queries read
  --show    also print each stripped plan
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_EXPR_ID = re.compile(r"#\d+")
_LAMBDA_ID = re.compile(r"(lambda \w+?)_\d+\b")
_RDD_ID = re.compile(r"(RDD)\[\d+\]")


def stripped_plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = _LAMBDA_ID.sub(r"\1", _EXPR_ID.sub("", text))
    return _RDD_ID.sub(r"\1", text)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--show", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from boltzmannclean_spark.plans.registry import all_queries
    from boltzmannclean_spark.session import get_spark

    queries = all_queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("plan-digest")
    # Print every field: a truncated plan string could hide a change.
    spark.conf.set("spark.sql.debug.maxToStringFields", 100_000)
    try:
        for name in args.names:
            plan = stripped_plan(queries[name].spark_fn(spark, args.sf_dir))
            if args.show:
                print(plan)
            print(f"{hashlib.sha256(plan.encode()).hexdigest()}  {name}", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
