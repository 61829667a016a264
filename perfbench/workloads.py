"""The benchmark's passes, output checks and traced compositions.

Every layer is driven through the program's public functions; the
traced release composes the same stage builders ``run_release`` uses,
with one span (and one Spark job group) per layer call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import run_release_job as rj  # tools/ is put on sys.path by run.py
from narowi_ocr_spark.plans.pipeline import extract_pages

from corpus import CLASSES, PII_EMAIL

FULL_GATES = True
APPLY_C4 = True
BLOCKLIST = list(rj.DEFAULT_BLOCKLIST)

# ------------------------------------------------------------ extract


def extract_pass(pages: DataFrame) -> None:
    extract_pages(pages).write.format("noop").mode("overwrite").save()


def extract_failures(pages: DataFrame, corrupt: int = 0) -> int:
    """Pages whose extracted text is not byte-identical to the oracle
    ``text`` column, plus pages missing on either side. ``corrupt``
    alters that many expected texts first (the check's own test)."""
    expected = pages.select("url", F.col("text").alias("expected"))
    if corrupt:
        bad = [r["url"] for r in expected.select("url").orderBy("url").limit(corrupt).collect()]
        expected = expected.withColumn(
            "expected",
            F.when(F.col("url").isin(bad), F.concat("expected", F.lit("#")))
            .otherwise(F.col("expected")),
        )
    got = extract_pages(pages).select("url", "extracted_text")
    return (
        got.join(expected, "url", "full_outer")
        .where(~F.col("extracted_text").eqNullSafe(F.col("expected")))
        .count()
    )


# ------------------------------------------------------------ release


def release_pass(spark: SparkSession, path: str, out: str) -> dict:
    return rj.run_release(
        spark,
        path,
        out,
        BLOCKLIST,
        apply_c4=APPLY_C4,
        resume=False,
        full_gates=FULL_GATES,
    )


def release_checks(
    spark: SparkSession, counts: dict, expected: dict, out: str
) -> list[str]:
    """Failed checks of one release: every stage's survivor count must
    equal the planted count, and no planted email may survive in the
    delivered shards or WET text (while scrubbed ones must be there)."""
    failed = [
        f"{k}: got {counts.get(k)} expected {v}"
        for k, v in expected.items()
        if counts.get(k) != v
    ]
    shards = spark.read.parquet(f"{out}/shards")
    wet = spark.read.text(f"{out}/wet")
    leaked = shards.where(F.col("text").contains(PII_EMAIL)).count() + wet.where(
        F.col("value").contains(PII_EMAIL)
    ).count()
    if leaked:
        failed.append(f"pii: {leaked} delivered rows carry the planted email")
    if not shards.where(F.col("text").contains("<EMAIL>")).count():
        failed.append("pii: no scrubbed email reached delivery")
    return failed


def class_failures(spark: SparkSession, path: str, planted: dict) -> list[str]:
    """The generator's page classes must be Spark's own
    ``pmod(xxhash64(url), CLASSES)`` over the corpus's base pages."""
    base = spark.read.parquet(path).where(
        ~F.col("url").rlike(r"^https://(mirror|near[0-9])\.example/x/")
    )
    got = {
        str(r["k"]): r["count"]
        for r in base.groupBy(
            F.pmod(F.xxhash64("url"), F.lit(CLASSES)).alias("k")
        ).count().collect()
    }
    return [] if got == planted else [f"classes: Spark gives {got}, planted {planted}"]


# ------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans (name, id, parent, run id, start, end, process-tree
    CPU) around layer calls. Entering a span sets the Spark job group to its name,
    so the event log attributes every task to the innermost span."""

    def __init__(self, spark: SparkSession, run_id: str, cpu_s):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cpu_s = cpu_s  # () -> process-tree CPU seconds so far
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans) + 1,
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "counts": {},
        }
        cpu0 = self.cpu_s()
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["tree_cpu_s"] = self.cpu_s() - cpu0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _checkpoint(df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def traced_release(spark: SparkSession, tr: Tracer, path: str, out: str) -> dict:
    """``run_release``'s stage composition, one span per layer call.
    Returns the survivor counts under the manifest's names."""
    from narowi_ocr_spark.operators.components import (
        component_representatives,
        connected_components,
    )
    from narowi_ocr_spark.operators.dedup import (
        PROD_NUM_PERM,
        PROD_ROWS_PER_BAND,
        jaccard_pairs,
        lsh_candidate_pairs,
    )
    from narowi_ocr_spark.operators.shards import shard_manifest
    from narowi_ocr_spark.sources.sink import partition_histogram
    from narowi_ocr_spark.sources.wet import write_wet

    ck = f"{out}/checkpoints"
    counts: dict[str, int] = {}
    with tr.span("release"):
        pages = spark.read.parquet(path)
        counts["pages"] = pages.count()
        with tr.span("release.00_docs") as c:
            docs = _checkpoint(rj.build_docs(pages), f"{ck}/00_docs")
            counts["extracted"] = c["rows_out"] = docs.count()
        with tr.span("release.01_clean_ids") as c:
            clean_ids = _checkpoint(
                rj.build_clean_ids(docs, BLOCKLIST, APPLY_C4, FULL_GATES),
                f"{ck}/01_clean_ids",
            )
            counts["clean"] = c["rows_out"] = clean_ids.count()
        clean = docs.join(clean_ids, "doc_id")
        with tr.span("release.02_exact_ids") as c:
            exact_ids = _checkpoint(rj.build_exact_ids(clean), f"{ck}/02_exact_ids")
            counts["exact_unique"] = c["rows_out"] = exact_ids.count()
        uniq = clean.join(exact_ids, "doc_id")
        with tr.span("release.03_near_ids") as c_near:
            with tr.span("dedup.lsh_candidate_pairs") as c:
                cand = lsh_candidate_pairs(
                    uniq,
                    num_perm=PROD_NUM_PERM,
                    rows_per_band=PROD_ROWS_PER_BAND,
                    kernel="xxhash64",
                ).localCheckpoint(eager=True)
                c["rows_out"] = c["pairs"] = cand.count()
            with tr.span("dedup.jaccard_pairs") as c:
                verified = jaccard_pairs(uniq, cand, threshold=0.8).localCheckpoint(
                    eager=True
                )
                c["rows_out"] = c["pairs"] = verified.count()
            with tr.span("components.connected_components") as c:
                labels = connected_components(
                    verified, nodes=uniq.select(F.col("doc_id").alias("id"))
                ).localCheckpoint(eager=True)
                c["rows_out"] = labels.count()
            with tr.span("components.component_representatives") as c:
                near_ids = _checkpoint(
                    component_representatives(labels).select(
                        F.col("keep_id").alias("doc_id")
                    ),
                    f"{ck}/03_near_ids",
                )
                c["rows_out"] = near_ids.count()
            counts["near_unique"] = c_near["rows_out"] = c["rows_out"]
        released = rj.build_released_text(
            docs.join(near_ids, "doc_id"), pii_scrub=FULL_GATES
        ).persist()
        with tr.span("release.shards") as c:
            assigned = rj.build_train_shards(released)
            counts["train"] = c["rows_out"] = assigned.count()
            assigned.write.mode("overwrite").partitionBy("shard").parquet(
                f"{out}/shards"
            )
            shard_manifest(assigned, assigned).write.mode("overwrite").parquet(
                f"{out}/shard_manifest"
            )
        with tr.span("release.wet") as c:
            write_wet(rj.build_wet(assigned), f"{out}/wet", mode="overwrite")
            c["rows_out"] = counts["train"]
        # run_release's last step: rows per delivered partition, and the
        # manifest write (the traced output directory is fresh)
        hist = [r.asDict() for r in partition_histogram(
            spark.read.parquet(f"{out}/shards")
        ).collect()]
        spark.sparkContext.parallelize(
            [json.dumps({"stages": counts, "partition_histogram": hist})], 1
        ).saveAsTextFile(f"{out}/release_manifest")
        released.unpersist()
    return counts


def _gates() -> dict:
    """Each cleaning gate alone: name -> (docs -> rejected-rows frame)."""
    from narowi_ocr_spark.functions.textstats import (
        with_c4_rules,
        with_gopher_rules,
        with_repetition_stats,
        with_text_stats,
    )
    from narowi_ocr_spark.operators.corpus import blocklist_gate

    return {
        "c4": lambda d: with_c4_rules(d, preserve=True).where(~F.col("c4_keep")),
        "blocklist": lambda d: blocklist_gate(d, BLOCKLIST, preserve=True).where(
            ~F.col("bl_keep")
        ),
        "text_stats": lambda d: with_text_stats(d).where(
            ~((F.col("lang_pred") == "en") & (F.col("q") >= 0.5))
        ),
        "repetition": lambda d: with_repetition_stats(d).where(F.col("is_repetitive")),
        "gopher": lambda d: with_gopher_rules(d, preserve=True).where(
            ~F.col("gopher_keep")
        ),
    }


def traced_gates(spark: SparkSession, tr: Tracer, out: str) -> None:
    """Materialize every gate alone over the 00_docs checkpoint."""
    docs = spark.read.parquet(f"{out}/checkpoints/00_docs")
    for name, rejected in _gates().items():
        with tr.span(f"gate.{name}") as c:
            c["rejected"] = rejected(docs).count()


def traced_extract(tr: Tracer, pages: DataFrame, n_pages: int) -> None:
    with tr.span("pipeline.extract_pages") as c:
        extract_pass(pages)
        c["rows_out"] = n_pages
