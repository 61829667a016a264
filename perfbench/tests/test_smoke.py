"""Tiny smoke runs of every workload: each named metric is emitted with
its unit, and a corrupted expected text counts as a failed page.

    python3 -m pytest perfbench/tests -q     (from the repository root)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict, str]:
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--pages", "120", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else {}, p.stderr


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(workload, trace):
    code, res, err = run(workload, trace)
    assert code == 0, err[-3000:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
        if not trace:
            assert v["value"] > 0, k


def test_corrupted_expected_text_is_a_failed_page():
    code, res, err = run("extract", 0, "--corrupt", "3")
    assert code != 0
    assert "perfbench: FAIL" in err
    assert res["correct"] is False
    assert res["failed"] == 3
    assert res["attempted"] == 120
