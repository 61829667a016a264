"""Scaling-efficiency evidence (north_rule: ≥0.8 throughput scaling from
N to 4N executors; sandbox proxy = local[N] vs local[4N] on the same
input — see BASELINE.md).

Methodology (matters a lot in local mode):
  - the synthetic corpus is materialized to parquet ONCE and each level
    times the identical scan → extract → noop-sink job;
  - per level: two full warm-up runs (JIT + Arrow-worker-pool spawn —
    cold spawn of 2×cpus workers costs tens of seconds), then best of
    two timed runs; fresh JVM per level;
  - a full parallelism ladder (2/4/8/16/32) is reported. The headline
    N→4N pair is 2→8: this single-box VM saturates its memory bandwidth
    once ~16+ allocation-heavy Python workers run concurrently (a pure
    arithmetic multiprocessing burn scales 26×/32 on the same box, the
    string-allocation-heavy extraction does not), so the unsaturated
    region is the faithful proxy for multi-executor scaling, where each
    executor brings its own memory bus. The ladder + burn contrast is
    printed as evidence that the limit is the box, not the dataflow
    (which is a single shuffle-free stage — no algorithmic serial part).

Every mode prints its report (markdown + raw JSON) to stdout; curating
it into BENCH.md is a manual step, so a run never replaces the
recorded history there.

Usage: python tools/bench_scaling.py [n_pages]
       python tools/bench_scaling.py --ops-only | --extract-only [n_pages]
       python tools/bench_scaling.py --release-only | --release-full [n_pages]
       python tools/bench_scaling.py --release-level <cpus> [n_pages] [full]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LADDER = (2, 4, 8, 16, 32)
N, FOUR_N = 2, 8

GEN = r"""
import os, sys
sys.path.insert(0, {repo!r})
from narowi_ocr_spark.config import get_spark
from narowi_ocr_spark.sources.pages import synth_pages
spark = get_spark(app_name="gen", master=f"local[{{len(os.sched_getaffinity(0))}}]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
synth_pages(spark, {n}, partitions=64).write.mode("overwrite").parquet({path!r})
spark.stop()
"""

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from narowi_ocr_spark.config import get_spark
from narowi_ocr_spark.plans.pipeline import extract_pages

cpus = int(sys.argv[1]); n_pages = int(sys.argv[2]); path = sys.argv[3]
# ~3 KB/page sandbox corpus: shrink split size so the scan exposes full
# parallelism (a real 100 TB corpus has split-sized files already).
spark = get_spark(app_name=f"scale-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus,
                  extra_conf={{"spark.sql.files.maxPartitionBytes": "8m"}})
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet(path)
def run():
    t0 = time.time()
    extract_pages(pages).write.format("noop").mode("overwrite").save()
    return time.time() - t0
run(); run()                      # warm-up ×2: JIT + full worker pools
secs = min(run(), run())          # best of two timed runs
print(json.dumps({{"cpus": cpus, "n_pages": n_pages, "sec": round(secs, 2),
                   "docs_per_sec": round(n_pages / secs, 1)}}))
spark.stop()
"""


OPS_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from narowi_ocr_spark.config import get_spark
from narowi_ocr_spark.operators.corpus import (
    dup_span_removal, pack_sequences, passage_dedup)
from narowi_ocr_spark.operators.dedup import (
    lsh_candidate_pairs, simhash_near_pairs)
from narowi_ocr_spark.operators.similarity import bucketed_topk
from narowi_ocr_spark.operators.train import (
    hashed_token_counts, perceptron_train)
from narowi_ocr_spark.sources.tables import load_table
from pyspark.sql import functions as F
import __spark_entry__ as entrymod

cpus = int(sys.argv[1]); sf_dir = sys.argv[2]
spark = get_spark(app_name=f"ops-scale-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus,
                  extra_conf={{"spark.sql.files.maxPartitionBytes": "8m"}})
spark.sparkContext.setLogLevel("ERROR")
# Replicate the corpus REP× (ids offset, one varied trailing token per
# replica) so per-job FIXED costs (planning, codegen, stage scheduling —
# ~0.3-1 s regardless of core count) stop dominating the seconds-scale
# sf0.1 jobs and the ladder measures the shuffle stages themselves.
# Replicas are near-dups OF EACH OTHER by construction, so the pair
# joins do genuinely more work — identical work at every level, which
# is all a scaling ratio needs.
REP = 8
def replicate(df, extra=()):
    parts = [df.select((F.col("doc_id") + F.lit(1000000 * k)).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(f" zrep{{k}}")).alias("text"),
                       *extra)
             for k in range(REP)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
docs_base = load_table(spark, sf_dir, "documents")
docs = replicate(docs_base, extra=("source",)).repartition(cpus)
corpus = replicate(entrymod._dup_corpus(docs_base)).repartition(cpus)
vecs = load_table(spark, sf_dir, "embeddings").repartition(cpus)
qv = vecs.where(F.col("vec_id") < 16)

def noop(df):
    df.write.format("noop").mode("overwrite").save()

# 4M-row exact global rank through the distributed bucketed_rank
# (quality_deciles / events_rfm / events_power_users ride it).
from narowi_ocr_spark.operators.ranking import bucketed_rank, loglin_bucket
RANK_N = 4_000_000
rank_base = (spark.range(RANK_N, numPartitions=cpus)
             .select(F.col("id"), ((F.col("id") * 2654435761) % 999983)
                     .alias("v")))
rank_order = [F.desc("v"), F.asc("id")]

# Round-3 web-structure ops: link extraction + host-edge rollup over a
# generated html column (narrow + one groupBy), 4M-row redirect-chain
# pointer doubling (log-rounds self-joins — the iterative-shuffle
# shape), and the host gate (digest window + host groupBy).
from narowi_ocr_spark.operators.corpus import host_quality
from narowi_ocr_spark.operators.redirects import resolve_redirects
from narowi_ocr_spark.operators.urls import extract_links, host_outlinks

link_pages = docs.select(
    F.concat(F.lit("https://h"), (F.col("doc_id") % 64).cast("string"),
             F.lit(".example/d/"),
             F.col("doc_id").cast("string")).alias("url"),
    F.concat(F.lit('<a href="https://x'),
             (F.col("doc_id") % 97).cast("string"),
             F.lit('.example/t">t</a><p>'), F.col("text"),
             F.lit('</p><a href="/l1">a</a><a href="../u/v">b</a>'))
    .alias("html"))
REDIR_N = 4_000_000
redir = (spark.range(REDIR_N, numPartitions=cpus)
         .where(F.col("id") % 8 != 0)
         .select(F.concat(F.lit("u"), F.col("id").cast("string"))
                 .alias("src"),
                 F.concat(F.lit("u"), (F.col("id") - 1).cast("string"))
                 .alias("dst")))
hq_docs = docs.select(F.col("source"), F.lit("en").alias("lang"), "text")

ops = {{
    "extract_links_edges": lambda: noop(
        host_outlinks(extract_links(link_pages))),
    "redirect_resolve_4m": lambda: noop(resolve_redirects(redir)),
    "host_quality_gate": lambda: noop(host_quality(hq_docs)),
    "lsh_pairs": lambda: noop(lsh_candidate_pairs(corpus)),
    "simhash_pairs": lambda: noop(simhash_near_pairs(corpus)),
    "emb_ann_bucketed": lambda: noop(bucketed_topk(vecs, qv, k=10)),
    "passage_dedup": lambda: noop(passage_dedup(corpus, passage_words=16)),
    # r4: overlapping-8-gram span removal over the REP× dup-clique
    # corpus — the single-exchange digest stream (AQE exchange reuse)
    # plus two doc-keyed rollups; heaviest honest shuffle job here
    "dup_span_removal": lambda: noop(dup_span_removal(corpus)),
    "pack_sequences": lambda: noop(pack_sequences(docs, capacity=256)),
    "rank_bucketed_dist": lambda: noop(
        bucketed_rank(rank_base, loglin_bucket(F.col("v")), rank_order,
                      ascending_buckets=False, rank_name="rn")),
    # on-cluster classifier training (operators/train.py): 2 decayed
    # batch-perceptron epochs over the REP×-amplified corpus — the
    # per-epoch unit is two shuffles of the cached (doc,bkt,cnt)
    # matrix plus an O(n_buckets) driver collect; the ladder shows the
    # epoch dataflow scales even though epochs are sequential barriers
    "classifier_train_2ep": lambda: perceptron_train(
        hashed_token_counts(docs, n_buckets=256, bias=True),
        docs.select("doc_id", F.when(
            F.size(F.filter(F.split(F.lower(F.col("text")), " "),
                            lambda t: t == F.lit("spark"))) >= 2,
            1).otherwise(-1).cast("long").alias("y")),
        n_weights=257, epochs=2),
}}
out = {{}}
for name, fn in ops.items():
    fn(); fn()                       # warm-up ×2
    best = 1e9
    for _ in range(2):
        t0 = time.time(); fn(); best = min(best, time.time() - t0)
    out[name] = round(best, 3)
print(json.dumps({{"cpus": cpus, "ops": out}}))
spark.stop()
"""

OPS_LADDER = (2, 8, 32)

# --------------------------------------------------------------------
# End-to-end release-job composition (VERDICT r3 item 5): the number a
# 100-TB operator plans capacity with — pages → extract → gates →
# exact dedup → prod-geometry LSH near-dedup → CC reps → split →
# shards → WET, one submitted job (tools/run_release_job.py).
RELEASE_PAGES = 40000

RELEASE_GEN = r"""
import os, sys
sys.path.insert(0, {repo!r})
from narowi_ocr_spark.config import get_spark
from narowi_ocr_spark.sources.pages import synth_pages
from pyspark.sql import functions as F
spark = get_spark(app_name="relgen", master=f"local[{{len(os.sched_getaffinity(0))}}]",
                  shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
# vocab_scale=64: realistic inter-document diversity (the base 31-word
# fixture vocabulary has uniform ~0.7 Jaccard between RANDOM pages,
# which makes any LSH geometry degenerate — real web text does not).
base = synth_pages(spark, {n}, partitions=64, vocab_scale=64)
# plant dups like a real crawl: 5% exact mirrors (same html, new url)
# + 5% near-dups (one extra paragraph -> shingle Jaccard ~0.95)
mirror = base.where(F.pmod(F.xxhash64("url"), F.lit(20)) == 0).select(
    F.concat(F.lit("https://mirror.example/x/"), F.col("url")).alias("url"),
    "warc_ts", "html", "text", "lang")
extra = ("this mirror edition appends one full extra paragraph of "
         "fifteen plain words to the body content")
near = base.where(F.pmod(F.xxhash64("url"), F.lit(20)) == 1).select(
    F.concat(F.lit("https://near.example/x/"), F.col("url")).alias("url"),
    "warc_ts",
    F.encode(F.regexp_replace(F.decode("html", "utf-8"), "<footer>",
                              "<p>" + extra + "</p><footer>"),
             "utf-8").alias("html"),
    F.concat(F.col("text"), F.lit("\n" + extra)).alias("text"), "lang")
base.unionByName(mirror).unionByName(near).write.mode(
    "overwrite").parquet({path!r})
spark.stop()
"""

RELEASE_CHILD = r"""
import json, sys, tempfile, time
sys.path.insert(0, {repo!r})
sys.path.insert(0, {repo!r} + "/tools")
from narowi_ocr_spark.config import get_spark
from run_release_job import run_release
cpus = int(sys.argv[1]); src = sys.argv[2]
full = len(sys.argv) > 3 and sys.argv[3] == "full"
spark = get_spark(app_name=f"release-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus,
                  extra_conf={{"spark.sql.files.maxPartitionBytes": "8m"}})
spark.sparkContext.setLogLevel("ERROR")
t0 = time.time()
# full-gate runs use the prose corpus, which passes the C4 line rules —
# so apply_c4 rides the same flag (the base synthetic corpus fails the
# terminal-punctuation rule wholesale, see run_release docstring)
m = run_release(spark, src, tempfile.mkdtemp() + "/rel",
                apply_c4=full, full_gates=full)
secs = time.time() - t0
print(json.dumps({{"cpus": cpus, "sec": round(secs, 1),
                   "pages_per_sec": round(m["stages"]["pages"] / secs, 1),
                   "stages": m["stages"],
                   "stage_seconds": m.get("stage_seconds", {{}})}}))
spark.stop()
"""


# Full-gate ladder corpus: the prose-mode generator (organic-English
# shape so the lang/quality/Gopher/C4 gates pass at realistic rates)
# plus FOUR planted defect classes so every release stage filters real
# rows: exact mirrors (die at exact dedup), near-dups (die at
# LSH→Jaccard→CC), repetitive boilerplate (dies at the repetition
# gate), and PII-bearing near-copies (their text carries an email the
# delivery scrub must redact).
RELEASE_GEN_FULL = r"""
import os, sys
sys.path.insert(0, {repo!r})
from narowi_ocr_spark.config import get_spark
from narowi_ocr_spark.sources.pages import synth_pages
from pyspark.sql import functions as F
spark = get_spark(app_name="relgenfull", master=f"local[{{len(os.sched_getaffinity(0))}}]",
                  shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
base = synth_pages(spark, {n}, partitions=64, vocab_scale=64, prose=True)
mirror = base.where(F.pmod(F.xxhash64("url"), F.lit(20)) == 0).select(
    F.concat(F.lit("https://mirror.example/x/"), F.col("url")).alias("url"),
    "warc_ts", "html", "text", "lang")
extra = ("this mirror edition appends one full extra paragraph of "
         "fifteen plain words to the body content.")
near = base.where(F.pmod(F.xxhash64("url"), F.lit(20)) == 1).select(
    F.concat(F.lit("https://near.example/x/"), F.col("url")).alias("url"),
    "warc_ts",
    F.encode(F.regexp_replace(F.decode("html", "utf-8"), "<footer>",
                              "<p>" + extra + "</p><footer>"),
             "utf-8").alias("html"),
    F.concat(F.col("text"), F.lit("\n" + extra)).alias("text"), "lang")
rep_body = ("<html><body>"
            + "".join("<p>" + ("buy cheap deals now " * 12).strip() + ".</p>"
                      for _ in range(6))
            + "</body></html>")
rep = base.where(F.pmod(F.xxhash64("url"), F.lit(40)) == 2).select(
    F.concat(F.lit("https://rep.example/x/"), F.col("url")).alias("url"),
    "warc_ts", F.encode(F.lit(rep_body), "utf-8").alias("html"),
    F.lit("x").alias("text"), "lang")
pii_line = ("contact the team of and with editors at "
            "alice.smith@mail.example for details.")
pii = base.where(F.pmod(F.xxhash64("url"), F.lit(40)) == 3).select(
    F.concat(F.lit("https://pii.example/x/"), F.col("url")).alias("url"),
    "warc_ts",
    F.encode(F.regexp_replace(F.decode("html", "utf-8"), "<footer>",
                              "<p>" + pii_line + "</p><footer>"),
             "utf-8").alias("html"),
    F.concat(F.col("text"), F.lit("\n" + pii_line)).alias("text"), "lang")
base.unionByName(mirror).unionByName(near).unionByName(rep).unionByName(
    pii).write.mode("overwrite").parquet({path!r})
spark.stop()
"""


def run_release_level(cpus: int, src: str, full: bool = False) -> dict:
    args = [sys.executable, "-c", RELEASE_CHILD.format(repo=REPO),
            str(cpus), src]
    if full:
        args.append("full")
    out = subprocess.run(
        args, capture_output=True, text=True, timeout=3600, cwd=REPO,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])


def release_corpus(n_pages: int, full: bool) -> str:
    """Materialize (once) and return the ladder corpus path — the base
    diverse corpus, or the prose + planted-defects corpus the full-gate
    variant runs over (see RELEASE_GEN_FULL)."""
    tag = "bench_release_full" if full else "bench_release"
    path = os.path.join(tempfile.gettempdir(), f"{tag}_{n_pages}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        gen = RELEASE_GEN_FULL if full else RELEASE_GEN
        subprocess.run(
            [sys.executable, "-c", gen.format(repo=REPO, n=n_pages, path=path)],
            check=True, timeout=3600,
        )
    return path


def release_ladder(n_pages: int = RELEASE_PAGES, full: bool = False) -> dict:
    """Time the full release composition at local[N] and local[4N] on
    one materialized corpus. Single timed run per level — the job is
    minutes-scale, so JIT/startup amortize inside it (documented),
    and a warm-up would double an already-long measurement.

    ``full`` runs the full-gate-stack job (lang/quality/Gopher/
    repetition/C4 gates + PII scrub at delivery) over the prose corpus."""
    path = release_corpus(n_pages, full)
    levels = {c: run_release_level(c, path, full) for c in (N, FOUR_N)}
    eff = round(
        levels[FOUR_N]["pages_per_sec"] / (4 * levels[N]["pages_per_sec"]), 3
    )
    return {"levels": levels, "efficiency": eff, "n_pages": n_pages,
            "full_gates": full}


def release_md(rel: dict) -> str:
    lv = rel["levels"]
    rows = "\n".join(
        f"| local[{c}] | {lv[c]['sec']} | {lv[c]['pages_per_sec']} |"
        for c in (N, FOUR_N)
    )
    st = lv[FOUR_N]["stages"]
    if rel.get("full_gates"):
        return f"""
## End-to-end release job, FULL gate stack (capacity with curation)

Same one-job composition as below, with the complete curation recipe
switched on (`run_release(full_gates=True)`): C4 line rules + blocklist
+ language ID + quality score + Gopher document rules + repetition
filter at the clean stage, and PII redaction applied to the released
text at delivery. Corpus: {rel['n_pages']} prose-mode pages +5% exact
mirrors +5% near-dups +2.5% repetitive boilerplate +2.5% PII-bearing
near-copies. The repetition gate and both dedup stages remove many
rows. The language, quality, Gopher, C4 and blocklist gates remove few
(about 37 rows together in the 120,000-page runs in BENCH.md), because
every prose page, the de/fr-labelled ones too, carries English text.
Single timed run per level.

| parallelism | wall-clock (s) | pages/sec |
|---|---|---|
{rows}

**N→4N (local[{N}] → local[{FOUR_N}]) efficiency = {rel['efficiency']}**
(target ≥ 0.8). Stage survivors at local[{FOUR_N}]:
`{json.dumps(st)}`. Per-stage wall-clock (s), local[{N}] vs
local[{FOUR_N}]: `{json.dumps(lv[N].get('stage_seconds', {}))}` vs
`{json.dumps(lv[FOUR_N].get('stage_seconds', {}))}`.
"""
    return f"""
## End-to-end release-job composition (the capacity-planning number)

`tools/run_release_job.py` as ONE submitted job over a
{rel['n_pages']}-page diverse corpus (+5% exact mirrors, +5% planted
near-dups): extract → blocklist gate → exact dedup → MinHash-LSH
near-dedup (production 128-bin/8-row geometry, one-permutation kernel) →
connected components → split → shards → WET segments → manifest.
Single timed run per level (minutes-scale job; startup amortizes
inside it).

| parallelism | wall-clock (s) | pages/sec |
|---|---|---|
{rows}

**N→4N (local[{N}] → local[{FOUR_N}]) efficiency = {rel['efficiency']}**
(target ≥ 0.8). Stage survivors at local[{FOUR_N}]:
`{json.dumps(st)}` — the planted mirrors die at exact dedup and the
planted near-dups at the LSH→Jaccard→CC stage, so every stage does
real work. Per-stage wall-clock (s), local[{N}] vs local[{FOUR_N}]:
`{json.dumps(lv[N].get('stage_seconds', {}))}` vs
`{json.dumps(lv[FOUR_N].get('stage_seconds', {}))}`.
"""


def run_ops_level(cpus: int, sf_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", OPS_CHILD.format(repo=REPO),
         str(cpus), sf_dir],
        capture_output=True, text=True, timeout=3600, cwd=REPO,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])


def run_level(cpus: int, n_pages: int, path: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO),
         str(cpus), str(n_pages), path],
        capture_output=True, text=True, timeout=3600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])


def _burn(_):
    t0 = time.time()
    x = 0
    while time.time() - t0 < 2:
        x += 1
    return x


def extract_only(n_pages: int) -> None:
    """Re-run JUST the extraction ladder (no burn/skew/ops/release) and
    print the per-level JSON — for the disclosed multi-run protocol
    (ADVICE r4: a single ladder run on a 2-4x noisy-neighbor box cannot
    attribute a throughput jump to code; run this 2-3 times and report
    the median/best like the release job does)."""
    path = os.path.join(tempfile.gettempdir(), f"bench_pages_{n_pages}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        subprocess.run(
            [sys.executable, "-c", GEN.format(repo=REPO, n=n_pages, path=path)],
            check=True, timeout=3600,
        )
    ladder = {c: run_level(c, n_pages, path) for c in LADDER}
    eff = round(
        ladder[FOUR_N]["docs_per_sec"] / (4 * ladder[N]["docs_per_sec"]), 3
    )
    eff_8_32 = round(
        ladder[32]["docs_per_sec"] / (4 * ladder[8]["docs_per_sec"]), 3
    )
    print(json.dumps({"ladder": ladder, "eff_n_4n": eff,
                      "eff_8_32": eff_8_32, "n_pages": n_pages}))


def cpu_burn_scaling() -> dict:
    """Pure-arithmetic multiprocessing burn: shows the BOX scales for
    non-memory-bound work, so the extraction ladder's flattening above
    ~16 workers is memory-bandwidth saturation, not a scheduler limit."""
    out = {}
    for n in (1, 8, 32):
        with mp.Pool(n) as p:
            t0 = time.time()
            total = sum(p.map(_burn, range(n)))
            dt = time.time() - t0
        out[str(n)] = round(total / dt / 1e6, 1)  # M loops/sec
    return out


def skew_histogram(path: str) -> dict:
    code = r"""
import json, sys
sys.path.insert(0, {repo!r})
from narowi_ocr_spark.config import get_spark
from narowi_ocr_spark.sources.sink import (
    partition_histogram, salted_repartition, url_host)
spark = get_spark(app_name="skew", master="local[8]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet({path!r}).select("url")
def stats(df):
    hist = [r.asDict() for r in partition_histogram(df).collect()]
    rows = sum(h["rows"] for h in hist)
    mx = max(h["rows"] for h in hist)
    return {{"partitions": len(hist), "rows": rows, "max_partition_rows": mx,
             "skew_ratio": round(mx / (rows / 32), 4)}}
unsalted = stats(pages.repartition(32, url_host("url")))
salted = stats(salted_repartition(pages, "url", 32))
print(json.dumps({{"unsalted_by_host": unsalted, "salted_host_key": salted}}))
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code.format(repo=REPO, path=path)],
        capture_output=True, text=True, timeout=1800,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    return json.loads(lines[-1])


def ops_table(ops_ladder: dict) -> str:
    """Markdown table for an ops ladder: one row per op, one column per
    OPS_LADDER level, plus the t_N/(4·t_4N) efficiency on the (N, FOUR_N)
    pair. Single source of truth for both ops_only() and main()."""
    header = (
        "| op | "
        + " | ".join(f"local[{c}] s" for c in OPS_LADDER)
        + f" | {N}→{FOUR_N} efficiency |"
    )
    sep = "|---|" + "---|" * (len(OPS_LADDER) + 1)
    op_names = list(next(iter(ops_ladder.values())))
    rows = [
        f"| {name} | "
        + " | ".join(str(ops_ladder[c][name]) for c in OPS_LADDER)
        + f" | {round(ops_ladder[N][name] / (4 * ops_ladder[FOUR_N][name]), 3)} |"
        for name in op_names
    ]
    return "\n".join([header, sep, *rows])


def ops_only() -> None:
    """Re-run just the dedup/ANN operator ladder (REP×-amplified jobs)
    and print the table + raw JSON."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ops_ladder = {c: run_ops_level(c, sf_dir)["ops"] for c in OPS_LADDER}
    print(ops_table(ops_ladder))
    print(json.dumps({"ops_ladder": ops_ladder}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--ops-only":
        ops_only()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--extract-only":
        extract_only(int(sys.argv[2]) if len(sys.argv) > 2 else 400000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--release-only":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else RELEASE_PAGES
        rel = release_ladder(n)
        print(release_md(rel))
        print(json.dumps({"release_ladder": rel}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--release-full":
        # full-gate-stack variant (VERDICT r4 item 6): same one-job
        # composition with the complete curation recipe on
        n = int(sys.argv[2]) if len(sys.argv) > 2 else RELEASE_PAGES
        rel = release_ladder(n, full=True)
        print(release_md(rel))
        print(json.dumps({"release_ladder_full": rel}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--release-level":
        # One timed run of ONE parallelism level of the release job, for
        # a disclosed multi-run protocol (median/best-of-K across
        # invocations on a shared box). Reuses the materialized corpus.
        if len(sys.argv) < 3:
            print("usage: bench_scaling.py --release-level <cpus> "
                  "[n_pages] [full]", file=sys.stderr)
            raise SystemExit(2)
        cpus = int(sys.argv[2])
        n = int(sys.argv[3]) if len(sys.argv) > 3 else RELEASE_PAGES
        full = len(sys.argv) > 4 and sys.argv[4] == "full"
        path = release_corpus(n, full)
        print(json.dumps(run_release_level(cpus, path, full)))
        return
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
    t0 = time.time()
    path = os.path.join(tempfile.gettempdir(), f"bench_pages_{n_pages}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        subprocess.run(
            [sys.executable, "-c", GEN.format(repo=REPO, n=n_pages, path=path)],
            check=True, timeout=3600,
        )
    ladder = {c: run_level(c, n_pages, path) for c in LADDER}
    rn, r4n = ladder[N], ladder[FOUR_N]
    eff = round(r4n["docs_per_sec"] / (4 * rn["docs_per_sec"]), 3)
    eff_8_32 = round(
        ladder[32]["docs_per_sec"] / (4 * ladder[8]["docs_per_sec"]), 3
    )
    burn = cpu_burn_scaling()
    skew = skew_histogram(path)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ops_ladder = {c: run_ops_level(c, sf_dir)["ops"] for c in OPS_LADDER}
    rel = release_ladder()
    ops_md = f"""
## Dedup / ANN operator ladder (shuffle-bearing stages)

Same protocol over the sf-dir tables ({sf_dir}; dup corpus = documents ∪
exact ∪ near copies, replicated REP× with content variation so fixed
costs amortize). These jobs DO shuffle (band-bucket joins, groupBy
signatures), so they evidence the shuffle stages' scaling, complementing
the shuffle-free extraction ladder above. Efficiency = t_N / (4·t_4N)
(throughput form of the N→4N rule on the {N}→{FOUR_N} pair).

{ops_table(ops_ladder)}

Caveat on the ops rows (unchanged from r2): at sf0.1 these jobs
are seconds-scale, so per-job fixed costs (stage scheduling, codegen,
Arrow pool) bound the measurable efficiency well below the dataflow's
asymptotic scaling; the REP× amplification mitigates but does not
remove this. The 400k-page extraction ladder above is the
fixed-cost-amortized number.
"""

    rows = "\n".join(
        f"| local[{c}] | {ladder[c]['sec']} | {ladder[c]['docs_per_sec']} | "
        f"{round(ladder[c]['docs_per_sec']/c, 1)} |"
        for c in LADDER
    )
    md = f"""# BENCH — scaling-efficiency + skew evidence (north_rule)

Protocol: BASELINE.md §Measurement. Deterministic synthetic pages corpus
({n_pages} pages, seed-fixed, FIXTURES.md §1) materialized to parquet
once; each parallelism level times the identical scan → tokenize →
block-score → boilerplate-strip → span-extract → noop-sink job in a
fresh JVM, after two warm-up runs (JIT + Arrow worker-pool spawn), best
of two timed runs. `local[N]` is the sandbox proxy for an N-executor
cluster (no real cluster available here).

## Parallelism ladder

| parallelism | wall-clock (s) | docs/sec | docs/sec/core |
|---|---|---|---|
{rows}

**Headline N→4N (local[{N}] → local[{FOUR_N}]): scaling efficiency =
{eff}** (target ≥ 0.8, north_rule). The 8→32 pair measures {eff_8_32}.

## Why the ladder flattens above ~16 workers — and why that is the box,
not the dataflow

- The pipeline is ONE shuffle-free stage with a single Arrow boundary
  (tests/test_plan_shape.py, tests/test_pipeline_fused.py): there is no
  algorithmic serial component, no shuffle barrier, no driver-side loop.
- A pure-arithmetic multiprocessing burn on the same box scales
  near-linearly: {json.dumps(burn)} M loops/sec at 1/8/32 processes —
  the scheduler and cores are fine.
- The extraction workload is allocation-heavy string processing
  (html decode, regex splits) in 2×threads cooperating processes
  (JVM task threads + Arrow Python workers); above ~16 concurrent
  workers this single-socket VM saturates its memory bandwidth, so
  per-core throughput degrades. On a multi-executor cluster every
  executor contributes its own memory bus, which is exactly the regime
  the unsaturated (N=2→8) region proxies.

## Skew evidence (salted host-key partitioning)

Zipf-skewed hosts (~20% of pages on 3 hot hosts — FIXTURES.md),
partitioned 32 ways by raw host vs `sink.salted_host_key`
(host + per-url salt, 8 salts):

```json
{json.dumps(skew)}
```

skew_ratio = max/mean partition rows (1.0 = perfectly even): raw host
partitioning concentrates the hot hosts
(ratio {skew['unsalted_by_host']['skew_ratio']}); salting flattens it to
{skew['salted_host_key']['skew_ratio']}.
{ops_md}{release_md(rel)}
Raw JSON: {json.dumps({'ladder': ladder, 'efficiency_2_8': eff, 'efficiency_8_32': eff_8_32, 'ops_ladder': ops_ladder, 'release_ladder': rel})}
Generated by tools/bench_scaling.py in {round(time.time() - t0, 1)} s.
"""
    print(md)


if __name__ == "__main__":
    main()
