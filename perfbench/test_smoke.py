"""Smoke test of the benchmark itself, at sf0.001-sized inputs.

    python -m pytest perfbench/test_smoke.py -q

For each workload: one short untraced pass must print every end-to-end
metric of BENCHMARK.json with its unit and verify clean; one short
traced pass with an injected verification mismatch must print every
per-layer metric and count the mismatch as a failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--scale", "0.1", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_pass_prints_end_to_end_metrics(workload):
    result = bench(workload, "--trace", "0")
    check_metrics(result, SPEC["end_to_end"])
    assert result["attempted"] >= 1 and result["failed"] == 0 and result["correct"]
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_pass_prints_layers_and_counts_mismatch(workload):
    result = bench(workload, "--trace", "1", "--inject-mismatch")
    check_metrics(result, SPEC["per_layer"])
    assert result["failed"] >= 1 and not result["correct"]
