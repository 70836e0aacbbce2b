"""Smoke test of the benchmark harness at its smallest shape (sf0.001
analytics data, 8 symbols, one week of syncs).

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its unit,
that every per-layer metric is measured by at least one workload, and
that a corrupted expected value is counted as a failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sync_daily", "query_mix")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """(detail line, result line) of one smoke-shaped run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload]
    cmd += ["--seed", "7", "--seconds", "1", "--trace", str(trace), "--shape", "smoke", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def runs() -> dict:
    return {
        (w, t): run(w, t, *(["--perturb-oracle"] if t else []))
        for w in WORKLOADS
        for t in (0, 1)
    }


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(runs, workload):
    detail, result = runs[workload, 0]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert detail["detail"]["fail_ratio"] == {"value": 0.0, "unit": "ratio"}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_printed_with_units(runs, workload):
    _, result = runs[workload, 1]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want


def test_every_per_layer_metric_is_measured_somewhere(runs):
    unmeasured = set.intersection(
        *(set(runs[w, 1][0]["detail"]["not_applicable"]["value"]) for w in WORKLOADS)
    )
    assert not unmeasured


@pytest.mark.parametrize("workload", WORKLOADS)
def test_perturbed_expectation_counts_as_failure(runs, workload):
    detail, result = runs[workload, 1]
    assert result["failed"] == 1 and not result["correct"]
    ratio = detail["detail"]["fail_ratio"]["value"]
    assert ratio == pytest.approx(1 / result["attempted"])
