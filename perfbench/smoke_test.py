"""Smoke test of the benchmark at tiny input size.

    python3 -m pytest perfbench/smoke_test.py -q

Each case runs ``perfbench/run.py`` the way measurements run it (a fresh
process from the checkout root) with ``--size tiny --seconds 0``; a run
takes one to three minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload, trace=0, *extra, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_metric_and_is_correct(workload, trace):
    result = _result(_run(workload, trace))
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_result_flips_correct(workload):
    result = _result(_run(workload, 0, "--tamper"))
    assert result["correct"] is False


#: per-layer counts that must read the same on two traced runs of a seed
GUARDS = {
    "medallion_etl": ("rules.rows_out", "gold.rows_out", "spark.jobs",
                      "spark.stages"),
    "curate_and_queries": ("curate.docs_out", "spark.jobs", "spark.stages"),
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_guard_counts_repeat_across_traced_runs(workload):
    first, second = (
        _result(_run(workload, 1))["metrics"] for _ in range(2)
    )
    for name in GUARDS[workload]:
        assert first[name]["value"] == second[name]["value"] > 0, name


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(WORKLOADS[0], 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
