"""Self-test of the benchmark on the small tables.

    python3 -m pytest perfbench/ -q

Each workload runs once untraced and once traced on the sf0.001 tables
with the run's minimum of four steady passes; the test checks the result line against
``BENCHMARK.json``. Takes a few minutes: every run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001", *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def assert_metrics(result: dict, spec: list[dict]) -> None:
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec}
    for m in spec:
        assert NAME.fullmatch(m["name"])
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(metrics[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    result = bench(workload, 0)
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, SPEC["end_to_end"])
    assert result["metrics"]["ops_ok_frac"]["value"] == 1.0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_layer_metric(workload):
    result = bench(workload, 1)
    assert result["correct"]
    assert_metrics(result, SPEC["per_layer"])


def test_failing_operation_counts():
    result = bench("iterative", 0, "--inject-failure")
    assert not result["correct"]
    assert result["failed"] == 5  # the cold pass and four steady passes
    assert result["metrics"]["ops_ok_frac"]["value"] < 1.0
