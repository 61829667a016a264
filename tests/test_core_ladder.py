"""tools/core_ladder.py over stub harnesses (no Spark): rung pinning,
pass order and the failure exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(ROOT, "tools", "core_ladder.py")
CORES = len(os.sched_getaffinity(0))

pytestmark = pytest.mark.skipif(CORES < 4, reason="the ladder needs at least 4 cores")


def ladder(stub: str) -> tuple[int, list[dict]]:
    out = subprocess.run(
        [sys.executable, TOOL, sys.executable, "-c", stub],
        capture_output=True, text=True, timeout=120,
    )
    return out.returncode, [json.loads(l) for l in out.stdout.splitlines()]


def test_each_child_runs_pinned_to_its_rung_in_alternating_order():
    rc, lines = ladder(
        "import json, os; print(json.dumps({'n': len(os.sched_getaffinity(0))}))"
    )
    assert rc == 0
    runs, report = lines[:-1], lines[-1]
    n = CORES // 4
    assert report["rungs"] == [n, 4 * n] and report["failed"] == 0
    assert len(runs) == 6
    for r in runs:
        assert r["ok"] and r["leaves"]["n"] == r["cores"]
    order = [[r["cores"] for r in runs if r["pass"] == p] for p in range(3)]
    assert order == [[n, 4 * n], [4 * n, n], [n, 4 * n]]
    assert report["stats"]["n"][str(n)] == {"median": n, "min": n, "iqr": 0.0}
    assert report["stats"]["n"]["ratio"] == 4.0


@pytest.mark.parametrize(
    "stub",
    ["import sys; sys.exit(1)", "print('{\"correct\": false}')"],
    ids=["exit-1", "correct-false"],
)
def test_a_failed_child_makes_the_ladder_exit_nonzero(stub):
    rc, lines = ladder(stub)
    assert rc != 0
    assert lines[-1]["failed"] == 6
