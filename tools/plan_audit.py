"""Plan-shape audit over every ``queries()`` entry and over the plans
a release executes.

Sweeps the physical plan of all registered queries at a small sf and
flags the scale smells that matter at 100 TB:

  * SortAggregate      — a per-partition sort of the aggregate's input
                         stream on both the map and reduce side; only
                         acceptable when string ordering IS the
                         semantics and the input is already reduced
  * CartesianProduct   — all-pairs; never acceptable outside
                         sample-confined evaluation
  * BroadcastNestedLoopJoin — acceptable only for broadcast-small
                         sides (ANN query vectors, scalar totals)
  * SinglePartition    — a 1-task exchange; acceptable only for scalar
                         totals and the tiny prefix-sum offset tables
                         of bucketed_rank
  * BatchEvalPython    — a row-at-a-time Python UDF; NEVER acceptable
                         (north_rule input_hint: vectorized
                         pandas/Arrow UDFs only — kernels go through
                         mapInPandas / Arrow-batched iterator UDFs)

The release job is audited on the plans it ran, not on a second
composition: ``run_release`` runs twice over the release-digest corpus
(``release_digests.corpus``), once with the base gates and once with
``full_gates=True``, and ``audit_release`` reads the final (adaptive)
plan of every SQL execution each step ran from Spark's SQL status store,
grouped by the step's execution description
(``run_release_job.STEP_DESCRIPTION``). Each step reads its upstream
checkpoint, so a step's flags are its own. The release-digest test runs
the same check over its full-gate release.

Each allowlisted entry documents WHY the flag is justified. A query or
release step that gains a NON-allowlisted flag fails the audit (exit 1),
and so does a release step with no execution — run this after touching
any operator dataflow:

    python tools/plan_audit.py [sf_dir]

The allowlist pins the flag SET per query and per release step, so a
justified entry that grows a new smell (e.g. anchor_texts acquiring a
Cartesian) still fails, and so does one that lost an allowlisted flag or
no longer exists: a stale exemption must be deleted, not carried.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# flag-set allowlist: query -> (flags, one-line justification)
ALLOWED = {
    # -- scalar-total broadcasts: a 1-row aggregate cross-joined back --
    "domain_mix_weights": ("BNLJ,SinglePart", "broadcast scalar total"),
    "semantic_contamination": ("BNLJ,SinglePart", "broadcast scalar total"),
    "bm25_topk": ("BNLJ,SinglePart", "broadcast corpus-size scalar (N for idf)"),
    "dsir_weights": ("BNLJ,SinglePart", "broadcast per-side gram totals"),
    "cooc_pmi": ("BNLJ,SinglePart", "broadcast total-window scalar"),
    "weighted_sample": ("BNLJ,SinglePart", "broadcast weight-sum scalar"),
    "doc_keywords": ("BNLJ,SinglePart", "broadcast corpus doc-count scalar"),
    "vocab_stats": ("BNLJ,SinglePart", "broadcast vocab totals (3 scalars)"),
    "kmeans_cells": ("BNLJ,SinglePart", "broadcast k centroids"),
    "host_reciprocity": ("BNLJ,SinglePart", "broadcast edge-count scalar"),
    "dedup_eval": ("BNLJ,SinglePart", "sample-confined truth pairs (documented O(sample^2))"),
    "otsu_gate": ("SortAgg,BNLJ,SinglePart", "256-bin histogram: argmax struct over 256 rows + threshold broadcast"),
    # -- ANN: query vectors are broadcast-small by contract --
    "ann_recall": ("BNLJ", "broadcast query vectors"),
    "emb_topk_exact": ("BNLJ", "broadcast query vectors"),
    "emb_ivf_topk": ("BNLJ,SinglePart", "broadcast query vectors + centroids"),
    "emb_ivf_multiprobe": ("BNLJ,SinglePart", "broadcast query vectors + centroids"),
    # -- scalar final aggregates (one output row / tiny offset tables) --
    "tpch_q6": ("SinglePart", "single-row answer"),
    "tpch_q14": ("SinglePart", "single-row answer"),
    "tpch_q19": ("SinglePart", "single-row answer"),
    "tpch_q15": ("SinglePart", "broadcast max-revenue scalar"),
    "tpch_q17": ("SinglePart", "single-row answer"),
    "tpch_q22": ("BNLJ,SinglePart", "broadcast avg-balance scalar"),
    "tpch_q11": ("BNLJ,SinglePart", "broadcast value-sum scalar"),
    "events_new_users": ("SinglePart", "tiny per-day firsts rollup to one row stream"),
    "events_power_users": ("SinglePart", "bucketed_rank prefix-sum offset table (bucket-count rows)"),
    "events_rfm": ("BNLJ,SinglePart", "3x bucketed_rank offset tables + quintile boundary broadcast"),
    "quality_deciles": ("SinglePart", "bucketed_rank prefix-sum offset table"),
    "training_order": ("SinglePart", "epoch-boundary offset table"),
    "session_stats": ("SinglePart", "single-row summary"),
    "batch_summary": ("SinglePart", "single-row batch totals"),
    # -- string ordering IS the semantics, input already reduced --
    "anchor_texts": ("SortAgg", "lexicographic top-anchor tie-break over the (target,anchor) tie-set"),
    "template_clusters": ("SortAgg", "lexicographic representative (url,n_tags) per template"),
    "url_templates": ("SortAgg", "lexicographic example_url per template"),
    "merge_upserts": ("SortAgg", "CDC latest-record max_by(struct) — value struct is the payload"),
    # -- release steps (tools/run_release_job.py): the final plans
    #    run_release executed, base and full gates alike, each step
    #    reading its upstream checkpoint; a step without an entry must
    #    show no flag --
    "release:00_docs": ("SortAgg", "distinct-on-id struct-min: lexicographic (url,ts,text) pick per doc_id over the one doc_id repartition at the session's shuffle width (not AQE-coalesced, so later per-row stages run on every partition), documented at build_docs"),
}

FLAG_MARKERS = [
    ("SortAgg", "SortAggregate"),
    ("Cartesian", "CartesianProduct"),
    ("BNLJ", "BroadcastNestedLoopJoin"),
    ("SinglePart", "SinglePartition"),
    # row-at-a-time Python UDF — no allowlist entry may carry this
    ("RowPython", "BatchEvalPython"),
]


# the steps run_release runs, each under its own execution description
RELEASE_STEPS = (
    "00_docs", "01_clean_ids", "02_exact_ids", "03_near_ids",
    "shards", "wet", "lineage",
)


def plan_flags(plan: str) -> str:
    """The FLAG_MARKERS found in ``plan``, comma-joined."""
    return ",".join(k for k, marker in FLAG_MARKERS if marker in plan)


def final_plan(description: str) -> str:
    """The final plan of a formatted plan description (what Spark's SQL
    status store records): the tree under ``== Final Plan ==`` (the
    whole tree if the plan is not adaptive) and the detail section of
    each of its nodes. The initial adaptive plan is left out."""
    tree, _, details = description.partition("\n\n\n")
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    ids = set(re.findall(r"\((\d+)\)", tree))
    kept = [
        sec for sec in details.split("\n\n")
        if (m := re.match(r"\((\d+)\) ", sec)) and m.group(1) in ids
    ]
    return "\n\n".join([tree, *kept])


def execution_mark(spark) -> int:
    """The id of the newest SQL execution the session has recorded (-1
    if none): pass it to ``executed_plans`` to read what ran after."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def executed_plans(spark, since: int) -> list[tuple[str, str]]:
    """(description, final plan) of every SQL execution with an id
    above ``since``, oldest first. Spark's SQL status store keeps them
    with or without the UI; the listener bus is drained first, so every
    execution that finished is in it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > since:
            out.append((e.description(), final_plan(e.physicalPlanDescription())))
    return out


def audit_release(spark, since: int, label: str = "release") -> list[str]:
    """Failures of the release run whose SQL executions have ids above
    ``since``: a step (``RELEASE_STEPS``) with no execution, or whose
    executed plans' flag set differs from its ``release:<step>``
    allowlist entry. Executions are grouped by the step description
    ``run_release`` sets (``STEP_DESCRIPTION``); others are ignored."""
    from run_release_job import STEP_DESCRIPTION

    steps = {STEP_DESCRIPTION.format(s): s for s in RELEASE_STEPS}
    plans: dict[str, list[str]] = {s: [] for s in RELEASE_STEPS}
    for description, plan in executed_plans(spark, since):
        if description in steps:
            plans[steps[description]].append(plan)
    failures = []
    for step, step_plans in plans.items():
        if not step_plans:
            failures.append(f"{label}:{step}: no execution")
            continue
        flags = plan_flags("\n".join(step_plans))
        allowed = ALLOWED.get(f"release:{step}", ("", ""))[0]
        if flags != allowed:
            failures.append(
                f"{label}:{step}: executed flags [{flags or 'none'}] "
                f"!= allowlisted [{allowed or 'none'}]"
            )
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from narowi_ocr_spark.config import get_spark
    import __spark_entry__ as entry
    import release_digests
    from run_release_job import run_release

    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    flagged = 0

    queries = entry.queries()
    for name, fn in queries.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 — audit must report, not die
            failures.append(f"{name}: PLAN-ERROR {type(ex).__name__}: {str(ex)[:100]}")
            continue
        flags = plan_flags(plan)
        flagged += bool(flags)
        allowed, why = ALLOWED.get(name, ("", ""))
        if flags != allowed:
            # a flag that went away fails too: its exemption is stale
            failures.append(
                f"{name}: flags [{flags or 'none'}] != allowlisted [{allowed or 'none'}]"
            )
        elif flags:
            print(f"  ok   {name}: {flags}  ({why})")

    # the release job: the plans run_release executed, base and full
    # gates, each run read back from the status store by step
    with tempfile.TemporaryDirectory(prefix="plan-audit-") as tmp:
        pages, _ = release_digests.corpus(tmp)
        for label, full_gates in (("release", False), ("release:full", True)):
            since = execution_mark(spark)
            run_release(spark, pages, os.path.join(tmp, label), apply_c4=True,
                        resume=False, full_gates=full_gates)
            failed = audit_release(spark, since, label)
            failures += failed
            print(f"  {'FAIL' if failed else 'ok  '} {label}: "
                  f"{len(RELEASE_STEPS)} steps audited on their executed plans")
    failures += [
        f"{name}: allowlisted but no such query or release step"
        for name in sorted(
            set(ALLOWED) - set(queries) - {f"release:{s}" for s in RELEASE_STEPS}
        )
    ]
    print(f"\n{flagged} flagged / {len(queries)} query plans "
          f"+ 2 release runs; {len(failures)} NOT allowlisted")
    for f in failures:
        print(f"  FAIL {f}")
    print("AUDIT:", "clean" if not failures else "FAILURES")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
