"""Plan-shape audit over every ``queries()`` entry.

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

Each allowlisted entry documents WHY the flag is justified. A query
that gains a NON-allowlisted flag fails the audit (exit 1) — run this
after touching any operator dataflow:

    python tools/plan_audit.py [sf_dir]

The allowlist pins the flag SET per query, so a justified query that
grows a new smell (e.g. anchor_texts acquiring a Cartesian) still
fails, and so does one that lost an allowlisted flag or no longer
exists: a stale exemption must be deleted, not carried.
"""

from __future__ import annotations

import os
import sys

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
    "incremental_dedup_bloom": ("BNLJ,SinglePart", "broadcast aggregated Bloom bitmap"),
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
    # -- release-job stage plans (tools/run_release_job.py dry-run;
    #    VERDICT r4 item 4). Flags here describe the LAZY chain the
    #    audit sweeps — the real job checkpoints each stage to parquet,
    #    so downstream stages re-scan durable files instead of
    #    replaying upstream plans; the per-stage shapes are the same --
    "release:00_docs": ("SortAgg", "distinct-on-id struct-min: lexicographic (url,ts,text) pick per doc_id over the one doc_id repartition at the session's shuffle width (not AQE-coalesced, so later per-row stages run on every partition), documented at build_docs"),
    "release:01_clean_ids": ("SortAgg", "consumes 00_docs' struct-min (lazy chain only; the job reads the checkpoint)"),
    "release:02_exact_ids": ("SortAgg", "00_docs chain + exact_dedup keep-min over (md5,doc_id) struct"),
    "release:03_near_ids": ("SortAgg", "00_docs chain; the near-dup pass adds none (one shingle-hash set per document feeds the aggregate-free MinHash signature and the verify's hash aggregate; HashAggregate DISTINCT, components, and an anti join for the survivors)"),
    "release:shards": ("SortAgg", "00_docs chain through splits + shard assignment"),
    "release:wet": ("SortAgg", "00_docs chain through WET record conversion"),
}

FLAG_MARKERS = [
    ("SortAgg", "SortAggregate"),
    ("Cartesian", "CartesianProduct"),
    ("BNLJ", "BroadcastNestedLoopJoin"),
    ("SinglePart", "SinglePartition"),
    # row-at-a-time Python UDF — no allowlist entry may carry this
    ("RowPython", "BatchEvalPython"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from narowi_ocr_spark.config import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    flagged = 0

    # every query + the release job's per-stage dataflows
    # (dry-run: release_stage_plans chains the stages lazily, so the
    # sweep sees the plans run_release() would compose — VERDICT r4
    # item 4: a regression in the release path fails the audit too)
    from narowi_ocr_spark.sources.pages import synth_pages
    from run_release_job import release_stage_plans

    targets: dict = dict(entry.queries())
    release_pages = synth_pages(spark, 64, partitions=4)
    targets.update(
        {k: (lambda df: lambda *_: df)(v)
         for k, v in release_stage_plans(release_pages).items()}
    )
    # full-gates variant (lang/quality/Gopher/repetition gates + PII
    # scrub at delivery): same stage names suffixed :full — the gate
    # kernels and the delivery rewrite add their own plan surface
    targets.update(
        {f"{k}:full": (lambda df: lambda *_: df)(v)
         for k, v in release_stage_plans(
             release_pages, full_gates=True
         ).items()}
    )

    for name, fn in targets.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 — audit must report, not die
            failures.append(f"{name}: PLAN-ERROR {type(ex).__name__}: {str(ex)[:100]}")
            continue
        flags = ",".join(k for k, marker in FLAG_MARKERS if marker in plan)
        flagged += bool(flags)
        # the :full release variants share the base stages' allowlist —
        # the flags come from the same 00_docs struct-min chain; any
        # NEW flag the gate/PII additions introduce still fails here
        allowed, why = ALLOWED.get(
            name, ALLOWED.get(name.removesuffix(":full"), ("", ""))
        )
        if flags != allowed:
            # a flag that went away fails too: its exemption is stale
            failures.append(
                f"{name}: flags [{flags or 'none'}] != allowlisted [{allowed or 'none'}]"
            )
        elif flags:
            print(f"  ok   {name}: {flags}  ({why})")
    failures += [
        f"{name}: allowlisted but no such query or release stage"
        for name in sorted(set(ALLOWED) - set(targets))
    ]
    print(f"\n{flagged} flagged / {len(targets)} plans "
          f"({len(entry.queries())} queries + release stages); "
          f"{len(failures)} NOT allowlisted")
    for f in failures:
        print(f"  FAIL {f}")
    print("AUDIT:", "clean" if not failures else "FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
