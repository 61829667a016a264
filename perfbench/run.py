#!/usr/bin/env python3
"""Repository benchmark: extraction and the whole corpus-release job.

    python3 perfbench/run.py --workload {extract,release} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last stdout line is one JSON object
{correct, attempted, failed, metrics}: with ``--trace 0`` the
end-to-end metrics (pages_per_s, cpu_ms_per_page, peak_rss_mb,
setup_s), with ``--trace 1`` the per-layer metrics of a traced run.
The line before it holds the run's provenance (git sha or source digest,
cores, master, versions, parameter fingerprint), its set-up split
(session, warm-up, corpus generation and whether the corpus was cached)
and the host noise per timed window. A full record, with the spans of a
traced run, is written to ``.bench_work/results/``.

Workloads (each generated from ``--seed``, run at local[nproc]):
  extract  plans.pipeline.extract_pages over fixture pages in several
           input splits per core, to a noop sink; every page's
           extracted text must equal its oracle text.
  release  run_release(apply_c4=True, full_gates=True) on a prose
           corpus where a quarter of the pages head a near-dup cluster
           (1 mirror + 4 near variants) and small classes are planted
           for every gate (repetitive, non-English, low-quality,
           blocklisted, C4-failing) plus PII; every stage's survivor
           count must equal the planted count and no planted email may
           reach delivery.

Set-up (``setup_s``) is session start plus one warm-up pass of the same
code over a disjoint slice, so JIT and codegen compile cost lands
there and not in the timed passes. Corpora are generated (or found in
the cache) before the session starts, without Spark, and are not part
of set-up. The timed window then repeats passes until ``--seconds``
have elapsed (at least one) and reports the median pass. CPU and peak
memory cover the whole process tree (driver, JVM, Python workers);
memory is summed as PSS so pages shared between forked processes count
once.

The traced run (``--trace 1``) first runs the same work as one span per
layer call, each under its own Spark job group, then the untraced timed
passes; executor CPU, GC, shuffle, spill, output bytes and task skew
come from the session's own event log. The release trace also
materializes each cleaning gate alone over the 00_docs checkpoint.
``cpu_s`` is executor (JVM) CPU from the log; ``tree_cpu_s`` is
process-tree CPU over the span, which also counts the Python workers.
``trace.overhead_share`` is the traced root span's wall time over the
median untraced pass, minus one. Passes still speed up from one to the
next after the warm-up (by up to about 15% on a release), so one traced
pass resolves the overhead only to about that drift.

Sizes are set so that a run of either workload ends well inside three
minutes on 4 cores, set-up included.

Any failed check, timeout or forced teardown exits nonzero with a
``perfbench: FAIL`` / ``perfbench: TIMEOUT`` marker on stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 165  # hard stop; with teardown still below the 180 s a run may take

# sizes: pages per timed pass / warm-up pass, and parquet files
SIZES = {
    "extract": {"n_base": 24_000, "files": 16, "warm_base": 24_000, "warm_files": 16},
    "release": {"n_base": 600, "files": 8, "warm_base": 80, "warm_files": 4},
}

END_TO_END = {
    "pages_per_s": "pages/s",
    "cpu_ms_per_page": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
LAYERS = [
    "pipeline.extract_pages",
    "release.00_docs",
    "release.01_clean_ids",
    "release.02_exact_ids",
    "release.03_near_ids",
    "dedup.lsh_candidate_pairs",
    "dedup.jaccard_pairs",
    "components.connected_components",
    "components.component_representatives",
    "release.shards",
    "release.wet",
]
LAYER_METRICS = {
    "wall_s": "s",
    "cpu_s": "s",
    "tree_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "rows_out": "count",
}
GATES = ["c4", "blocklist", "text_stats", "repetition", "gopher"]


def per_layer_units() -> dict[str, str]:
    units = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()}
    for g in GATES:
        units[f"gate.{g}.wall_s"] = "s"
        units[f"gate.{g}.rejected"] = "count"
    units.update(
        {
            "gate.sum_over_fused": "ratio",
            "dedup.lsh_candidate_pairs.pairs": "count",
            "dedup.jaccard_pairs.pairs": "count",
            "dedup.jaccard_pairs.verify_ratio": "ratio",
            "components.connected_components.jobs": "count",
            "release.shards.write_mb": "MB",
            "release.wet.write_mb": "MB",
            "trace.overhead_share": "ratio",
        }
    )
    return units


def fail(marker: str, msg: str, code: int) -> None:
    sys.stderr.write(f"perfbench: {marker} {msg}\n")
    sys.stderr.flush()
    from proc import kill_tree

    kill_tree(os.getpid(), grace_s=5)
    os._exit(code)


def provenance(spark, args, pages: int) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    for d in ("narowi_ocr_spark", "tools"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, d))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
    from workloads import APPLY_C4, BLOCKLIST, FULL_GATES

    release = args.workload == "release"
    return {
        "git_sha": sha,
        "source_digest": h.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "params": {
            "workload": args.workload,
            "seed": args.seed,
            "pages": pages,
            "full_gates": FULL_GATES if release else None,
            "apply_c4": APPLY_C4 if release else None,
            "blocklist": BLOCKLIST if release else None,
            "seconds": args.seconds,
            "trace": args.trace,
        },
    }


def start_spark(app_name: str, cores: int, event_log: bool):
    from narowi_ocr_spark.config import get_spark

    conf = {
        "spark.sql.files.maxPartitionBytes": "8m",
        # below the library's 8g default: the host is shared
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            }
        )
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> list[int]:
    """Stop the session, then the JVM and every worker under it, and wait
    until each has ended. Returns the pids that had to be killed (a
    forced teardown)."""
    from pyspark import SparkContext
    from proc import kill_tree

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        pass
    return kill_tree(os.getpid(), grace_s=10)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, help="override base pages (tests)")
    ap.add_argument(
        "--corrupt", type=int, default=0,
        help="extract: alter this many expected texts (tests the check)",
    )
    args = ap.parse_args()

    missing = [
        p for p in ("narowi_ocr_spark/__init__.py", "tools/run_release_job.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        sys.stderr.write(f"perfbench: FAIL program sources missing: {missing}\n")
        return 2

    for d in ("tmp", "local", "events", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # keep every temp file of the tree (Python, launcher JVM, driver JVM)
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData"
    )
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    watchdog = threading.Timer(
        DEADLINE_S, fail, ("TIMEOUT", f"run exceeded {DEADLINE_S} s", 3)
    )
    watchdog.daemon = True
    watchdog.start()

    try:
        record = run(args)
    except Exception as e:  # report any crash as a failed run
        import traceback

        traceback.print_exc()
        fail("FAIL", f"{type(e).__name__}: {e}", 1)
    watchdog.cancel()

    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    with open(os.path.join(WORK, "results", stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in ("provenance", "setup", "windows")}))
    print(json.dumps(record["result"]))
    sys.stdout.flush()
    if not record["result"]["correct"]:
        sys.stderr.write(f"perfbench: FAIL checks: {record['failures']}\n")
        return 1
    return 0


def run(args) -> dict:
    import corpus
    import workloads as wl
    from proc import Window, tree_cpu_s

    cores = len(os.sched_getaffinity(0))
    size = dict(SIZES[args.workload])
    if args.pages:
        size["n_base"] = args.pages
        size["warm_base"] = max(args.pages // 8, 40)
    me = os.getpid()
    kind = args.workload

    # corpora first, generated (if not cached) without Spark: the
    # benchmark's session then starts the same way in every run
    t = time.perf_counter()
    [(warm_path, _), (path, meta)], cached = corpus.prepare(WORK, kind, args.seed, size)
    gen_s = time.perf_counter() - t
    n_pages = meta["pages"]

    t = time.perf_counter()
    spark = start_spark(f"perfbench-{kind}", cores, event_log=bool(args.trace))
    session_s = time.perf_counter() - t
    app_id = spark.sparkContext.applicationId

    failures: list[str] = []
    attempted = failed = 0
    out_root = os.path.join(WORK, "release-out", str(me))

    def one_pass(i: int, src: str, pages_df):
        """Run one pass; returns the release manifest (or None)."""
        if kind == "extract":
            wl.extract_pass(pages_df)
            return None
        return wl.release_pass(spark, src, f"{out_root}/{i}")

    def check(i: int, manifest) -> None:
        """Release survivor and PII checks of timed pass ``i``."""
        nonlocal attempted, failed
        if kind == "release":
            exp = meta["expected"]
            out = f"{out_root}/{i}"
            bad = wl.release_checks(spark, manifest["stages"], exp, out)
            attempted += len(exp) + 1
            failed += len(bad)
            failures.extend(f"pass {i}: {b}" for b in bad)
            shutil.rmtree(out, ignore_errors=True)

    # set-up: one warm-up pass of the same code over the warm-up slice
    t = time.perf_counter()
    one_pass(-1, warm_path, spark.read.parquet(warm_path))
    warm_s = time.perf_counter() - t
    setup_s = session_s + warm_s

    pages_df = spark.read.parquet(path)
    spans = traced_counts = None
    if args.trace:
        # the traced composition runs right before the untraced passes it
        # is compared with; being first, it is the colder of the two
        tr = wl.Tracer(spark, f"{app_id}-{args.seed}", lambda: tree_cpu_s(me))
        traced_out = f"{out_root}/traced"
        if kind == "extract":
            wl.traced_extract(tr, pages_df, n_pages)
        else:
            traced_counts = wl.traced_release(spark, tr, path, traced_out)

    windows, walls, cpus, peak = [], [], [], 0.0
    manifests = []
    t_window = time.perf_counter()
    i = 0
    while True:
        with Window(me) as w:
            m = one_pass(i, path, pages_df)
        walls.append(w.wall_s)
        cpus.append(w.cpu_s)
        peak = max(peak, w.peak_rss_mb)
        windows.append({"pass": i, "wall_s": w.wall_s, "cpu_s": w.cpu_s, **w.host})
        manifests.append(m)
        if kind == "release":
            windows[-1]["stage_seconds"] = m["stage_seconds"]
        check(i, m)
        i += 1
        if time.perf_counter() - t_window >= args.seconds:
            break

    if kind == "extract":
        bad = wl.extract_failures(pages_df, args.corrupt)
        attempted += n_pages
        failed += bad
        if bad:
            failures.append(f"extract: {bad} of {n_pages} pages not byte-identical")
    else:
        bad = wl.class_failures(spark, path, meta["planted"])
        attempted += 1
        failed += len(bad)
        failures.extend(bad)

    if args.trace:
        if kind == "release":
            want = dict(meta["expected"], train=manifests[-1]["stages"]["train"])
            bad = [
                f"traced {k}: got {traced_counts.get(k)} expected {v}"
                for k, v in want.items()
                if traced_counts.get(k) != v
            ]
            attempted += len(want)
            failed += len(bad)
            failures.extend(bad)
            wl.traced_gates(spark, tr, traced_out)
            wl.traced_extract(tr, pages_df, n_pages)
        spans = tr.spans

    prov = provenance(spark, args, n_pages)
    killed = stop_spark(spark)
    if killed:
        failures.append(f"forced teardown: killed {len(killed)} processes")
    shutil.rmtree(out_root, ignore_errors=True)

    if args.trace:
        log = os.path.join(WORK, "events", app_id)
        metrics = layer_metrics(spans, log, statistics.median(walls))
        os.remove(log)  # parsed; the spans and metrics go to the record
    else:
        metrics = {
            "pages_per_s": n_pages / statistics.median(walls),
            "cpu_ms_per_page": statistics.median(cpus) * 1000 / n_pages,
            "peak_rss_mb": peak,
            "setup_s": setup_s,
        }
    units = per_layer_units() if args.trace else END_TO_END
    result = {
        "correct": not failures,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return {
        "result": result,
        "failures": failures,
        "provenance": prov,
        "setup": {
            "session_s": session_s,
            "warm_s": warm_s,
            "corpus_s": gen_s,
            "corpus_cached": cached,
        },
        "windows": windows,
        "corpus": meta,
        "spans": spans,
    }


def layer_metrics(spans: list[dict], log_path: str, untraced_wall: float) -> dict:
    """Per-layer metrics from the spans plus the event log's per-group
    task metrics; layers the workload never ran report zeros."""
    import sparklog

    groups = sparklog.group_metrics(log_path)
    units = per_layer_units()
    out = {k: 0.0 for k in units}
    by_name = {s["name"]: s for s in spans}

    def tree(rec):
        return [rec] + [s for s in spans if _under(spans, s, rec["id"])]

    for name in LAYERS:
        rec = by_name.get(name)
        if rec is None:
            continue
        agg = sparklog.merge([groups[s["name"]] for s in tree(rec) if s["name"] in groups])
        out[f"{name}.wall_s"] = rec["end"] - rec["start"]
        out[f"{name}.tree_cpu_s"] = rec["tree_cpu_s"]
        for k in ("cpu_s", "gc_s", "shuffle_mb", "spill_mb", "task_skew"):
            out[f"{name}.{k}"] = agg[k]
        out[f"{name}.rows_out"] = rec["counts"].get("rows_out", 0)
        if name == "components.connected_components":
            out[f"{name}.jobs"] = agg["jobs"]
        if name in ("release.shards", "release.wet"):
            out[f"{name}.write_mb"] = agg["write_mb"]
    for g in GATES:
        rec = by_name.get(f"gate.{g}")
        if rec is not None:
            out[f"gate.{g}.wall_s"] = rec["end"] - rec["start"]
            out[f"gate.{g}.rejected"] = rec["counts"]["rejected"]
    fused = out["release.01_clean_ids.wall_s"]
    if fused:
        out["gate.sum_over_fused"] = sum(out[f"gate.{g}.wall_s"] for g in GATES) / fused
    lsh = by_name.get("dedup.lsh_candidate_pairs")
    if lsh is not None:
        cand = lsh["counts"]["pairs"]
        ver = by_name["dedup.jaccard_pairs"]["counts"]["pairs"]
        out["dedup.lsh_candidate_pairs.pairs"] = cand
        out["dedup.jaccard_pairs.pairs"] = ver
        out["dedup.jaccard_pairs.verify_ratio"] = ver / cand if cand else 0.0
    root = by_name.get("release") or by_name.get("pipeline.extract_pages")
    out["trace.overhead_share"] = (root["end"] - root["start"]) / untraced_wall - 1
    return out


def _under(spans: list[dict], s: dict, ancestor: int) -> bool:
    parent = s["parent"]
    while parent is not None:
        if parent == ancestor:
            return True
        parent = spans[parent - 1]["parent"]
    return False


if __name__ == "__main__":
    sys.exit(main())
