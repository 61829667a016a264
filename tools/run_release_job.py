"""Corpus-release driver for spark-submit (tools/submit_cluster.sh with
this script in place of run_extraction_job.py) — the full
crawl-to-training-corpus path as ONE submitted job:

    pages ──▶ extraction pipeline (single shuffle-free Arrow stage)
          ──▶ C4 line/page rules + blocklist gate      (codegen filters)
          ──▶ exact dedup (md5 groupBy, keep-min)
          ──▶ MinHash-LSH near-dedup: band candidates → exact-Jaccard
              verify → connected components → one rep per cluster
          ──▶ deterministic train/valid/test split
          ──▶ md5-range shard assignment + delivery manifest
          ──▶ WET conversion-record segments for the train split
          ──▶ release manifest (per-stage survivor counts + per-partition
              lineage histogram — the audit trail a data card is written
              from)

Every stage is a library call (`narowi_ocr_spark.*`) — this script only
composes and records; the shapes (what shuffles, what broadcasts, what
stays in codegen) are documented on the operators themselves.

RESUMABILITY (north_rule): each stage checkpoints its result under
``<out>/checkpoints/`` — the extracted doc table once in full (it is
also the release's extraction cache), every later stage as a doc-id
survivor list (a few bytes per doc; at 10^12 docs the id lists are
~8 TB total vs the corpus' ~100 TB text, and they are exactly the
semi-join keys the stages already shuffle). A rerun with
``resume=True`` (the default) loads every stage whose checkpoint
committed (`_SUCCESS` present) and recomputes only from the first
missing one — a job killed during near-dedup restarts at near-dedup
with extraction, gates and exact dedup served from parquet. All stages
are deterministic functions of their input (content hashes, not RNG),
so a resumed run is bit-identical to an uninterrupted one (asserted in
tests/test_release_job.py). The run's parameters are fingerprinted
next to the checkpoints (``release_params.json``); a resume under
different parameters is refused, never served stale stages.

Usage:
  spark-submit --py-files narowi_ocr_spark.zip \
      tools/run_release_job.py <pages_path> <out_path> [term1,term2,...] \
      [--full-gates] [--no-c4] [--no-resume]

Dev smoke (tests/test_release_job.py runs exactly this):
  python tools/run_release_job.py <pages_parquet> <out_dir>
"""

from __future__ import annotations

import json
import operator
import os
import sys
import time
import uuid
from functools import reduce, wraps

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# `python tools/run_release_job.py` puts tools/ (not the repo root) on
# sys.path; on a cluster --py-files ships the package instead. Make the
# dev invocation in the docstring actually work — driver imports via
# sys.path, local-mode executor Python workers via PYTHONPATH (set
# BEFORE the session starts):
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH", "")) if p
    )

DEFAULT_BLOCKLIST = ["slow", "dup"]  # demo terms; deployments load the
# published list (see corpus.blocklist_gate)

# run parameters a checkpoint depends on, written next to checkpoints/
PARAMS_FILE = "release_params.json"

# Spark job group of each run_release step (manifest ``stage_jobs``):
# run_release:<run token>:<step>, unique to one run
JOB_GROUP = "run_release:{}:{}"
# the description of each step's jobs and SQL executions (tools/plan_audit.py
# groups the executed plans by it)
STEP_DESCRIPTION = "release step {}"
# the local properties setJobGroup sets, restored when run_release exits
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


# --------------------------------------------------------------------------
# Stage builders — pure DataFrame → DataFrame functions. run_release()
# wraps each in its checkpoint/resume protocol and runs every step under
# the execution description STEP_DESCRIPTION; tools/plan_audit.py reads
# the final plans Spark recorded under it and checks their flags with
# the same allowlist discipline as the queries (a new
# SortAggregate/CartesianProduct in the release path must fail the
# audit, not ship silently).
# --------------------------------------------------------------------------


def build_docs(pages: DataFrame) -> DataFrame:
    """Extraction + admission + distinct-on-id (stage 00_docs).

    Admission gate = non-empty extracted TEXT: `status` is the
    READINGS-validity verdict (the reference's per-image A1 status —
    typed spans found and valid), not an extraction-quality signal;
    extracted_text is byte-exact for partial/failed pages too, and a
    corpus release that kept only reading-bearing pages would silently
    drop ~90% of good prose (measured on the fixture corpus).

    The one shuffle is ``repartition(<spark.sql.shuffle.partitions>,
    doc_id)``, and the distinct-on-id aggregate runs on its output, so
    00_docs is written as that many files and every later per-row stage
    (gates, MinHash signature, verify) runs as that many tasks. The
    width is explicit because AQE sizes partitions by bytes: it folded
    the ~1.7 MB shuffle of a 1350-page release into one partition,
    while the gate and signature cost is per document, not per byte.
    It is the session's shuffle width, not the core count, so a large
    release still gets as many partitions as it is configured for. A
    ``REPARTITION_BY_NUM`` exchange is never coalesced by AQE."""
    from narowi_ocr_spark.operators.urls import url_host
    from narowi_ocr_spark.plans.pipeline import extract_pages

    extracted = extract_pages(pages).where(
        F.length("extracted_text") > 0
    ).select(
        # Full 64-bit id over (url, warc_ts) — no abs() (folding to
        # 63 bits doubles collision odds), and the timestamp
        # disambiguates re-crawls of the same URL across segments.
        F.xxhash64("url", "warc_ts").alias("doc_id"),
        "url",
        "warc_ts",
        F.col("extracted_text").alias("text"),
        url_host(F.col("url")).alias("source"),
    )
    # Distinct-on-id guard: real crawl inputs repeat (url, warc_ts)
    # across re-ingested segments, and every downstream id-keyed
    # semi-join (c4_keep, bl_keep, exact_keep, reps) would fan rows
    # out multiplicatively on a duplicated id. Deterministic keep
    # (min struct), ONE aggregate on doc_id — linear, no window. The
    # aggregate reads the doc_id repartition, whose hash partitioning
    # it needs anyway, so it adds no exchange. The struct-min buffer
    # makes it sort-based (a per-partition sort by the 8-byte doc_id);
    # kept deliberately — the lexicographic pick must compare text, so
    # no fixed-width packing applies, and a hash-then-join-back
    # alternative re-emits byte-identical duplicates (the common case)
    # and would need a second text shuffle to drop them.
    width = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        extracted.repartition(width, "doc_id")
        .groupBy("doc_id")
        .agg(F.min(F.struct("url", "warc_ts", "text", "source")).alias("_r"))
        .select("doc_id", "_r.url", "_r.warc_ts", "_r.text", "_r.source")
    )


def clean_flags(
    docs: DataFrame,
    blocklist: list[str] | None = None,
    apply_c4: bool = True,
    full_gates: bool = False,
) -> DataFrame:
    """Per-doc cleaning verdict ``(doc_id, keep)`` as ONE projection:
    the documents are tokenized once (``with_tokens``), every gate
    chains in preserve mode over that token array (each appends its
    keep flag to the same frame), and the flags AND into ``keep``. Zero
    joins, zero shuffles, one read of the text column.

    ``full_gates`` adds the complete modern curation stack on top of
    the C4 + blocklist default: language ID (en only), quality score,
    Gopher document rules, and the within-document repetition filter —
    the gate set the production recipe (``curation_full``) runs."""
    from narowi_ocr_spark.functions import textstats as ts
    from narowi_ocr_spark.operators.corpus import blocklist_gate

    chain = ts.with_tokens(docs)
    keeps = []
    if apply_c4:
        chain = ts.with_c4_rules(chain, preserve=True)
        keeps.append(F.col("c4_keep"))
    if blocklist is None:
        blocklist = DEFAULT_BLOCKLIST
    chain = blocklist_gate(chain, blocklist, preserve=True)
    keeps.append(F.col("bl_keep"))
    if full_gates:
        chain = ts.with_gopher_rules(
            ts.with_repetition_stats(ts.with_text_stats(chain)), preserve=True
        )
        keeps += [
            F.col("lang_pred") == "en",
            F.col("q") >= 0.5,
            ~F.col("is_repetitive"),
            F.col("gopher_keep"),
        ]
    return chain.select("doc_id", reduce(operator.and_, keeps).alias("keep"))


def build_clean_ids(
    docs: DataFrame,
    blocklist: list[str] | None = None,
    apply_c4: bool = True,
    full_gates: bool = False,
) -> DataFrame:
    """Cleaning gates (stage 01_clean_ids): the ids whose
    ``clean_flags`` verdict is keep. The survivor set is ids-only (the
    text column never rewrites after 00_docs).

    The flags pass a lazy ``localCheckpoint`` before the filter. Without
    that boundary the optimizer pushes ``where(keep)`` down through the
    staging projections and inlines the gate expressions into the
    filter condition, which re-tokenizes the text once per reference
    (the full-gate plan had 33 ``split(`` instead of 3). The checkpoint
    is the 2-column flag frame, computed by the first action on the
    result (an upstream shuffle, if any, runs when the boundary is
    built)."""
    flags = clean_flags(docs, blocklist, apply_c4, full_gates)
    return flags.localCheckpoint(eager=False).where("keep").select("doc_id")


def build_exact_ids(clean: DataFrame) -> DataFrame:
    """Exact dedup survivor ids (stage 02_exact_ids): keep-min over
    content md5."""
    from narowi_ocr_spark.operators.dedup import exact_dedup

    return exact_dedup(clean).select(F.col("keep_id").alias("doc_id"))


def near_dup_pairs(uniq: DataFrame) -> DataFrame:
    """Verified near-duplicate pairs ``(id_a, id_b, jaccard)`` of
    ``uniq`` (stage 03_near_ids): LSH candidates → exact-Jaccard verify,
    both over one shingle-hash set per document.

    PRODUCTION band geometry (128 bins, 16 bands x 8 rows, ~0.71
    capture threshold): the dev 16/2 geometry's ~0.35 threshold turns
    any moderately self-similar corpus into a quadratic candidate
    join — at release scale the steep S-curve is what keeps this
    stage linear in the number of TRUE near-dup pairs. The signature
    is one-permutation MinHash (one md5-derived hash per shingle, the
    same kernel the DuckDB oracles mirror), and candidates are verified
    by exact Jaccard over the same shingle hashes.

    Each document's text is read once: ``hash_sets`` shingles and
    hashes it in the tasks that read ``uniq``, and the band join and
    the verify both read that (id, hs) table, so no text is shuffled
    and no shingle is hashed twice. The table passes a lazy
    ``localCheckpoint``: it is computed by the first job that reads it
    and served from the block manager to the second. The verify reads
    the candidate pair list once (``hash_set_jaccard``), so the pairs
    are not materialized."""
    from narowi_ocr_spark.operators.dedup import (
        PROD_NUM_PERM,
        PROD_ROWS_PER_BAND,
        hash_set_candidates,
        hash_set_jaccard,
        hash_sets,
    )

    hs = hash_sets(uniq).localCheckpoint(eager=False)
    cand = hash_set_candidates(
        hs, num_perm=PROD_NUM_PERM, rows_per_band=PROD_ROWS_PER_BAND
    )
    return hash_set_jaccard(hs, cand, threshold=0.8)


def build_near_ids(uniq: DataFrame) -> DataFrame:
    """Near-dedup survivor ids (stage 03_near_ids): the verified pairs
    (``near_dup_pairs``) → connected components → the ids of ``uniq``
    that represent their component (``component_keep_ids``: every id
    but those labelled with a smaller one). Only the edge-connected
    documents enter the components; a document on no verified pair
    survives as its own representative."""
    from narowi_ocr_spark.operators.components import (
        component_keep_ids,
        connected_components,
    )

    labels = connected_components(near_dup_pairs(uniq))
    return component_keep_ids(uniq.select("doc_id"), labels, "doc_id")


def build_released_text(released: DataFrame, pii_scrub: bool = False) -> DataFrame:
    """Delivery-side text pass: PII redaction applied ONCE to the
    released survivors (after dedup, so the regex chain never runs on
    rows dedup is about to drop; before splits/shards/WET, so every
    delivery surface ships the scrubbed text). Narrow per-row
    regexp_replace chain — no shuffle, no UDF."""
    if not pii_scrub:
        return released
    from narowi_ocr_spark.functions.textstats import PII_PATTERNS, with_pii_scrub

    return (
        with_pii_scrub(released)
        .drop("text", *[f"n_{kind}" for kind, _, _ in PII_PATTERNS])
        .withColumnRenamed("redacted", "text")
        # keep the caller's column order (drop+rename appends text)
        .select(*released.columns)
    )


def build_train_shards(released: DataFrame) -> DataFrame:
    """Deterministic split → train shard assignment (stage shards)."""
    from narowi_ocr_spark.operators.corpus import dataset_splits
    from narowi_ocr_spark.operators.shards import shard_assign

    split = dataset_splits(released)
    train = split.where(F.col("split") == "train").drop("split", "split_key")
    return shard_assign(train)


def build_wet(assigned: DataFrame) -> DataFrame:
    """WET conversion records for the released train split."""
    from narowi_ocr_spark.sources.wet import wet_export

    return wet_export(
        assigned.select("doc_id", "url", "warc_ts", "text"),
        url_col="url",
        ts_col="warc_ts",
        text_col="text",
    )


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — works for file://, hdfs://, s3a://
    alike, unlike os.path (the driver must run unchanged on a cluster)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _committed(spark: SparkSession, path: str) -> bool:
    """True iff a Spark write to ``path`` COMMITTED (its `_SUCCESS`
    marker exists) — a half-written dir from a killed job is recomputed,
    never trusted."""
    fs, _ = _fs(spark, path)
    jvm = spark.sparkContext._jvm
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS"))


def _rmdir(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _read_text(spark: SparkSession, path: str) -> str | None:
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, jpath = _fs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _check_resume(spark: SparkSession, out_path: str, params: dict) -> None:
    """Refuse to resume checkpoints computed under other parameters: the
    fingerprint written next to ``checkpoints/`` must equal ``params``.
    Checkpoints without a fingerprint are refused too (their parameters
    are unknown)."""
    prior = _read_text(spark, f"{out_path}/{PARAMS_FILE}")
    if prior is None:
        fs, jpath = _fs(spark, f"{out_path}/checkpoints")
        if fs.exists(jpath):
            raise ValueError(
                f"{out_path}: checkpoints without a {PARAMS_FILE} fingerprint; "
                "rerun with resume=False (--no-resume) or use a fresh out dir"
            )
    elif json.loads(prior) != params:
        raise ValueError(
            f"{out_path}: checkpoints were computed with {prior.strip()}, "
            f"not {json.dumps(params, sort_keys=True)}; rerun with "
            "resume=False (--no-resume) or use a fresh out dir"
        )


def _codegen_compiles(spark: SparkSession) -> int:
    """Generated-code classes this JVM has compiled so far (Spark's
    codegen cache misses; a cache hit compiles nothing)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _keeps_caller_job_group(fn):
    """Restore the caller's Spark job group when ``fn(spark, ...)``
    returns or raises: run_release sets one group per stage."""

    @wraps(fn)
    def call(spark: SparkSession, *args, **kwargs):
        sc = spark.sparkContext
        caller = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
        try:
            return fn(spark, *args, **kwargs)
        finally:
            for k, v in caller.items():
                sc.setLocalProperty(k, v)

    return call


@_keeps_caller_job_group
def run_release(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    blocklist: list[str] | None = None,
    apply_c4: bool = True,
    resume: bool = True,
    full_gates: bool = False,
) -> dict:
    """``full_gates`` runs the complete curation recipe: the default
    C4+blocklist gate stage additionally applies language ID, quality
    score, Gopher rules and the repetition filter (see
    ``build_clean_ids``), and the released text is PII-scrubbed once at
    delivery (``build_released_text``) before splits/shards/WET.

    ``apply_c4`` gates on the C4 line/page prose rules — the right
    default for organic web text, but a corpus without sentence
    punctuation (chat logs, code, the synthetic dev tables) fails the
    terminal-punctuation line rule wholesale; such runs disable it and
    rely on the blocklist + dedup stages.

    ``resume=True`` reuses the committed stage checkpoints under
    ``out_path/checkpoints`` (see module docstring) up to the first
    missing one; every later stage recomputes. The run's parameters
    (pages path, ``apply_c4``, ``full_gates``, blocklist) are written to
    ``out_path/release_params.json``, and a resume under different
    parameters raises ``ValueError`` instead of reusing stages gated
    another way. ``resume=False`` deletes the old checkpoints and runs
    from scratch (checkpoints are still written, so the NEXT run can
    resume).

    The manifest records the parameters (``params``) and each stage
    checkpoint's partition count (``checkpoint_partitions``): the
    number of tasks a later per-row stage reading it runs as.

    The survivor counts (``stages``) are observed, not counted: each
    computed stage's row count is a ``DataFrame.observe`` metric of its
    checkpoint write, and the input pages are observed on the 00_docs
    write. A checkpoint is read back with the written frame's schema, so
    no footer-inference job runs. A stage loaded on resume has no write
    to observe, so its checkpoint (and, for 00_docs, the input) is
    counted.

    ``stage_jobs`` counts the Spark jobs each step started: the six
    stages ``00_docs`` … ``wet`` (a computed stage's checkpoint write
    and the work feeding it, such as the near-dedup connected-components
    checkpoints; a resumed stage's count) and
    ``lineage`` (the partition histogram of the delivered shards). Every
    step runs under its own job group, ``run_release:<run>:<step>``
    with a token unique to the run, described as ``release step
    <step>`` (``STEP_DESCRIPTION``, which also labels the step's SQL
    executions), and the count is the length of the group's job id
    array (two py4j calls per step). The manifest itself is written
    from the driver, not by a job. The caller's job group is restored
    on exit.

    ``codegen_compiles`` is the number of generated-code classes the
    run compiled: the delta of Spark's ``CodegenMetrics`` compilation
    counter over the run, i.e. codegen cache misses. The counter is
    JVM-wide, so a concurrent job in the same driver counts too, and on
    a cluster it sees the driver's compiles only (executors compile in
    their own JVMs). A session that already ran the same plans compiles
    none (see ``config.CODEGEN_CACHE_ENTRIES``)."""
    from narowi_ocr_spark.operators.shards import shard_manifest
    from narowi_ocr_spark.sources.sink import collect_partition_histogram
    from narowi_ocr_spark.sources.wet import write_wet

    t0 = time.time()
    compiles0 = _codegen_compiles(spark)
    reader = spark.read
    pages = (
        reader.format("iceberg").load(pages_path)
        if "." in pages_path and "/" not in pages_path
        else reader.parquet(pages_path)
    )

    params = {
        "pages_path": pages_path,
        "apply_c4": apply_c4,
        "full_gates": full_gates,
        "blocklist": list(DEFAULT_BLOCKLIST if blocklist is None else blocklist),
    }
    if resume:
        _check_resume(spark, out_path, params)
    else:
        _rmdir(spark, f"{out_path}/checkpoints")
    _write_text(spark, f"{out_path}/{PARAMS_FILE}", json.dumps(params, sort_keys=True))

    resumed: list[str] = []
    stage_s: dict[str, float] = {}
    partitions: dict[str, int] = {}
    sc = spark.sparkContext
    run = uuid.uuid4().hex
    steps: list[str] = []

    def group(name: str) -> None:
        """Attribute every Spark job from here on to step ``name``."""
        steps.append(name)
        sc.setJobGroup(JOB_GROUP.format(run, name), STEP_DESCRIPTION.format(name))

    # once a stage recomputes, every later stage recomputes too: its
    # checkpoint was derived from the replaced one
    fresh = not resume

    def stage(name: str, compute: "callable") -> tuple[DataFrame, int]:
        """Load the stage from its committed checkpoint (resume) or
        compute it, write the checkpoint, and read it back — downstream
        stages always consume the durable parquet, so lineage never
        chains through a lost executor's cache and a restarted driver
        sees identical bytes. Returns the checkpoint and its row count.
        A computed stage's count is observed on its write and it is read
        back with the written schema, so no job runs after the write; a
        loaded checkpoint has no write to observe and is counted.
        Per-stage wall-clock lands in the manifest (`stage_seconds`) —
        the number capacity planning reads first."""
        nonlocal fresh
        path = f"{out_path}/checkpoints/{name}"
        if not fresh and _committed(spark, path):
            resumed.append(name)
            df = spark.read.parquet(path)
            rows = df.count()
        else:
            fresh = True
            ts = time.time()
            out = compute()
            seen = Observation()
            out.observe(seen, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(path)
            rows = seen.get["rows"]
            df = spark.read.schema(out.schema).parquet(path)
            stage_s[name] = round(time.time() - ts, 2)
        partitions[name] = df.rdd.getNumPartitions()
        return df, rows

    # 1. extraction (one Arrow stage) + admission + distinct-on-id
    # (see build_docs). The downstream chain re-reads the survivor set
    # many times (gates, dedup, splits); it is served from the
    # checkpoint parquet — the disk-backed equivalent of the old
    # .persist(), and it survives a driver restart. The input pages are
    # counted on the 00_docs write; a loaded 00_docs counts them alone.
    group("00_docs")
    read = Observation()
    docs, extracted = stage(
        "00_docs",
        lambda: build_docs(pages.observe(read, F.count(F.lit(1)).alias("rows"))),
    )
    counts: dict[str, int] = {
        "pages": pages.count() if "00_docs" in resumed else read.get["rows"],
        "extracted": extracted,
    }

    # 2. cleaning gates (see build_clean_ids) — the checkpoint is the
    # surviving id list (ids-only: text never rewrites after 00_docs)
    group("01_clean_ids")
    clean_ids, counts["clean"] = stage(
        "01_clean_ids",
        lambda: build_clean_ids(docs, blocklist, apply_c4, full_gates),
    )
    clean = docs.join(clean_ids, "doc_id")

    # 3. exact dedup (keep-min over content md5)
    group("02_exact_ids")
    exact_ids, counts["exact_unique"] = stage(
        "02_exact_ids", lambda: build_exact_ids(clean)
    )
    uniq = clean.join(exact_ids, "doc_id")

    # 4. near-dedup: LSH candidates → exact-Jaccard verify → CC reps
    # over one shingle-hash set per document (see build_near_ids)
    group("03_near_ids")
    near_ids, counts["near_unique"] = stage(
        "03_near_ids", lambda: build_near_ids(uniq)
    )
    released = build_released_text(
        docs.join(near_ids, "doc_id"), pii_scrub=full_gates
    ).persist()

    # 5. splits + shards + manifests — terminal writes are their own
    # checkpoints: a committed shards dir is loaded, not rewritten. A
    # computed assignment is persisted like ``released``: the shard
    # write, shard_manifest and WET all read that one copy instead of
    # each re-running the split and shard window. The train count is
    # observed on the shard write.
    group("shards")
    if not fresh and _committed(spark, f"{out_path}/shards"):
        resumed.append("shards")
        assigned = spark.read.parquet(f"{out_path}/shards")
        counts["train"] = assigned.count()
    else:
        fresh = True
        ts = time.time()
        assigned = build_train_shards(released).persist()
        seen = Observation()
        assigned.observe(seen, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).partitionBy("shard").parquet(f"{out_path}/shards")
        counts["train"] = seen.get["rows"]
        if not counts["train"]:
            # an empty partitionBy write leaves no parquet file, so
            # nothing a resume could read the schema from: an empty train
            # split is rewritten unpartitioned (one empty file that keeps
            # the schema)
            assigned.write.mode("overwrite").parquet(f"{out_path}/shards")
        shard_manifest(assigned).write.mode("overwrite").parquet(
            f"{out_path}/shard_manifest"
        )
        stage_s["shards"] = round(time.time() - ts, 2)

    # 6. WET segments for the released train split
    group("wet")
    if not fresh and _committed(spark, f"{out_path}/wet"):
        resumed.append("wet")
    else:
        ts = time.time()
        write_wet(build_wet(assigned), f"{out_path}/wet", mode="overwrite")
        stage_s["wet"] = round(time.time() - ts, 2)

    # 7. per-partition lineage over the delivered shards: rows per
    # physical partition + skew ratio (O(partitions) collect — the
    # audit row a 1000-executor run is debugged from). An empty
    # release gives an empty histogram.
    group("lineage")
    hist = collect_partition_histogram(
        spark.read.schema(assigned.schema).parquet(f"{out_path}/shards")
    )
    sizes = [h["rows"] for h in hist]
    # the status store learns of jobs from the listener bus: drain it
    # so every job started above is in the counts
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # the length of the Java id array: two py4j calls a step however many
    # jobs the session kept (PySpark's getJobIdsForGroup fetches the ids
    # one call each)
    tracker = sc.statusTracker()._jtracker
    stage_jobs = {
        name: len(tracker.getJobIdsForGroup(JOB_GROUP.format(run, name)))
        for name in steps
    }
    manifest = {
        "ts": time.time(),
        "wall_s": round(time.time() - t0, 2),
        "stages": counts,
        "stage_seconds": stage_s,
        "resumed_stages": resumed,
        "params": params,
        "checkpoint_partitions": partitions,
        "stage_jobs": stage_jobs,
        "codegen_compiles": _codegen_compiles(spark) - compiles0,
        "survival_ppm": {
            k: int(v * 1_000_000 / counts["pages"]) if counts["pages"] else 0
            for k, v in counts.items()
        },
        "lineage": {
            "partitions": len(sizes),
            "rows": sum(sizes),
            "max_partition_rows": max(sizes) if sizes else 0,
            "skew_ratio": round(max(sizes) / (sum(sizes) / len(sizes)), 4)
            if sizes
            else None,
            "partition_histogram": hist,
        },
    }
    # the layout saveAsTextFile would leave (one part file + _SUCCESS),
    # written from the driver; a rerun replaces the old manifest
    _rmdir(spark, f"{out_path}/release_manifest")
    _write_text(
        spark, f"{out_path}/release_manifest/part-00000", json.dumps(manifest) + "\n"
    )
    _write_text(spark, f"{out_path}/release_manifest/_SUCCESS", "")
    assigned.unpersist()
    released.unpersist()
    return manifest


def release_args(args: list[str]) -> dict:
    """``run_release`` keyword arguments from the command line (see the
    module docstring): --no-c4 for corpora without sentence punctuation
    (see run_release), --full-gates for the complete curation recipe,
    --no-resume to recompute every stage."""
    flags = {a for a in args if a.startswith("--")}
    unknown = flags - {"--no-c4", "--full-gates", "--no-resume"}
    if unknown:
        raise SystemExit(f"unknown flags: {sorted(unknown)}")
    argv = [a for a in args if not a.startswith("--")]
    return {
        "pages_path": argv[0],
        "out_path": argv[1],
        "blocklist": argv[2].split(",") if len(argv) > 2 else None,
        "apply_c4": "--no-c4" not in flags,
        "full_gates": "--full-gates" in flags,
        "resume": "--no-resume" not in flags,
    }


def main() -> None:
    kwargs = release_args(sys.argv[1:])
    # Pin UTC: WET WARC-Date and md5-of-date record ids must not vary
    # with the cluster's wall clock zone (library sessions get this
    # from config.get_spark; spark-submit sessions must set it here).
    spark = (
        SparkSession.builder.appName("narowi-release")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    print(json.dumps(run_release(spark, **kwargs)))
    spark.stop()


if __name__ == "__main__":
    main()
