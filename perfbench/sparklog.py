"""Per-job-group Spark task metrics from an uncompressed event log.

The benchmark's traced session runs with ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false`` and wraps every layer call in
``setJobGroup(<layer>)``. Each ``SparkListenerJobStart`` carries the
group in its properties and lists its stages; each ``SparkListenerTaskEnd``
carries the task's metrics. Nothing in the program under test changes.
"""

from __future__ import annotations

import json
import statistics

_MB = 2**20


def _empty() -> dict:
    return {
        "jobs": 0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_mb": 0.0,
        "spill_mb": 0.0,
        "write_mb": 0.0,
        "stage_run_ms": {},
    }


def group_metrics(log_path: str) -> dict[str, dict]:
    """{job group: {jobs, cpu_s, gc_s, shuffle_mb, spill_mb, write_mb,
    task_skew}} over every job the log attributes to a group.

    ``shuffle_mb`` is shuffle bytes written; ``spill_mb`` is memory plus
    disk spill; ``task_skew`` is max over median executor run time of the
    group's heaviest stage (the stage with the most task time)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    with open(log_path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                groups.setdefault(group, _empty())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                g = groups[group]
                g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                g["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                g["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0)
                ) / _MB
                om = tm.get("Output Metrics") or {}
                g["write_mb"] += om.get("Bytes Written", 0) / _MB
                g["stage_run_ms"].setdefault(ev["Stage ID"], []).append(
                    tm.get("Executor Run Time", 0)
                )
    for g in groups.values():
        runs = g.pop("stage_run_ms")
        heavy = max(runs.values(), key=sum, default=[])
        med = statistics.median(heavy) if heavy else 0
        g["task_skew"] = max(heavy) / med if med > 0 else 1.0
    return groups


def merge(parts: list[dict]) -> dict:
    """Sum several groups' metrics (a layer whose work spans child
    groups); ``task_skew`` takes the maximum."""
    out = _empty()
    out.pop("stage_run_ms")
    out["task_skew"] = 1.0
    for p in parts:
        for k, v in p.items():
            out[k] = max(out[k], v) if k == "task_skew" else out[k] + v
    return out
