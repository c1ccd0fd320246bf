"""Smoke test of the benchmark at its smallest size.

    python -m pytest perfbench/test_smoke.py -q

Each workload runs once at ``--scale small``; every metric BENCHMARK.json
names must be printed, with its unit, both on a ``metric``/``layer`` line
and in the closing JSON object. Each workload also runs with
``--corrupt``, which falsifies one checked output: the run must count it
as a failure, report ``correct: false`` and exit non-zero.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload: str, trace: int, *extra: str):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "small", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p, json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(p, res, spec: list[dict], prefix: str):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    lines = p.stdout.splitlines()
    for name, unit in want.items():
        line = next(x for x in lines if x.startswith(f"{prefix} {name} = "))
        assert line.endswith(f" {unit}"), line


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed(workload):
    p, res = run(workload, 0)
    assert p.returncode == 0, p.stderr[-2000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert_metrics(p, res, SPEC["end_to_end"], "metric")


def test_per_layer_metrics_printed():
    p, res = run("query", 1)
    assert p.returncode == 0, p.stderr[-2000:]
    assert res["correct"]
    assert_metrics(p, res, SPEC["per_layer"], "layer")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_result_counts_as_failure(workload):
    p, res = run(workload, 0, "--corrupt")
    assert p.returncode == 1
    assert not res["correct"] and res["failed"] >= 1
    assert "FAILED" in p.stderr
