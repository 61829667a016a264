#!/usr/bin/env python3
"""N → 4N core ladder: run one harness command pinned to N and to 4N cores.

    python tools/core_ladder.py python3 perfbench/run.py --workload release --seed 1 --seconds 10
    python tools/core_ladder.py python3 bench.py

4N is the number of cores this process may run on (rounded down to a
multiple of 4) and N = 4N / 4; both come from the process's CPU
affinity, not from a flag. Each rung runs the command in a child pinned
with ``os.sched_setaffinity`` to the first N (or 4N) of those cores,
with ``SPARK_GRAFT_CPUS`` removed from its environment, so ``get_spark``
and ``bench.py`` size their sessions from the affinity. There are three
interleaved passes, and the rung order alternates from one pass to the
next (N, 4N / 4N, N / N, 4N).

Every JSON-object line a child prints is flattened to dotted leaves
(a later line wins on a shared key), and the child's wall time is added
as ``ladder.wall_s``. One JSON line per child is printed as it ends;
the last line is the report: per rung the median, min and IQR of every
numeric leaf, and the 4N/N ratio of the medians. The per-child lines
keep the other leaves (for perfbench, ``provenance.master``).

The tool writes no data. It exits nonzero if any child exits nonzero or
reports ``"correct": false``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

PASSES = 3


def rungs() -> dict[int, list[int]]:
    cpus = sorted(os.sched_getaffinity(0))
    n = len(cpus) // 4
    if n == 0:
        sys.exit(f"core_ladder: needs at least 4 cores, this process may use {len(cpus)}")
    return {n: cpus[:n], 4 * n: cpus[: 4 * n]}


def flatten(obj, prefix: str = ""):
    if isinstance(obj, dict):
        for k, v in obj.items():
            yield from flatten(v, f"{prefix}{k}.")
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            yield from flatten(v, f"{prefix}{i}.")
    else:
        yield prefix[:-1], obj


def run_child(cmd: list[str], cpus: list[int]) -> tuple[int, dict]:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, stdout=subprocess.PIPE, text=True, env=env,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus),
    )
    leaves = {}
    for line in proc.stdout.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict):
            leaves.update(flatten(obj))
    leaves["ladder.wall_s"] = round(time.perf_counter() - t0, 3)
    return proc.returncode, leaves


def is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def summarize(runs: list[dict], sizes: list[int]) -> dict:
    stats = {}
    for key in sorted({k for r in runs for k in r["leaves"]}):
        per = {
            c: [r["leaves"][key] for r in runs if r["cores"] == c and key in r["leaves"]]
            for c in sizes
        }
        if not all(is_number(v) for vs in per.values() for v in vs):
            continue
        row = {}
        for c, vs in per.items():
            if vs:
                q = statistics.quantiles(vs, n=4, method="inclusive") if len(vs) > 1 else vs * 3
                row[c] = {"median": statistics.median(vs), "min": min(vs), "iqr": q[2] - q[0]}
        lo, hi = row.get(sizes[0]), row.get(sizes[1])
        if lo and hi and lo["median"]:
            row["ratio"] = hi["median"] / lo["median"]
        stats[key] = row
    return stats


def main(cmd: list[str]) -> int:
    if not cmd:
        sys.exit(__doc__)
    ladder = rungs()
    sizes = sorted(ladder)
    runs, failed = [], 0
    for p in range(PASSES):
        for cores in sizes if p % 2 == 0 else sizes[::-1]:
            rc, leaves = run_child(cmd, ladder[cores])
            bad = rc != 0 or any(
                v is False for k, v in leaves.items() if k.rsplit(".", 1)[-1] == "correct"
            )
            failed += bad
            run = {"pass": p, "cores": cores, "exit": rc, "ok": not bad, "leaves": leaves}
            runs.append(run)
            print(json.dumps(run), flush=True)
    report = {"command": cmd, "rungs": sizes, "passes": PASSES, "failed": failed}
    print(json.dumps({**report, "stats": summarize(runs, sizes)}), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
