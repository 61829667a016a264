"""Session construction and scale-tuning knobs.

All sizing decisions are centralized here so the same code runs on
``local[N]`` in tests and on a multi-executor cluster via
``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size for the html-tokenizer / regex-kernel UDF stages.
# Raw html payloads are large (tens of KB each); keep batches small enough
# that a batch of html bytes fits comfortably in the Python worker
# (~4k docs x ~20KB = 80MB per batch upper bound at default).
ARROW_BATCH_ROWS = 2048

# Generated-code classes Spark keeps compiled per JVM
# (``spark.sql.codegen.cache.maxEntries``, a static conf; Spark's default
# is 100). One full-gate release pass compiles about 183 units: counted
# with the JVM-wide ``CodegenMetrics.METRIC_COMPILATION_TIME`` counter
# over a traced pass of one 1350-page benchmark corpus, 00_docs 15,
# 01_clean_ids 14, 02_exact_ids 8, 03_near_ids 81 (LSH 17, verify 28,
# components 32, reps 4), shards 62, wet 3. With 100 entries a session
# that runs the pass again misses the cache on almost every unit, so
# Janino recompiles each class and the JIT warms each fresh class from
# the interpreter again. 1000 holds the release working set about five
# times over, room for the other plans a long-lived session runs.
CODEGEN_CACHE_ENTRIES = 1000

# Default parallelism knobs; overridden per-environment.
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "narowi-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the extraction workload.

    - AQE on: runtime coalescing + skew-join splitting at cluster scale.
    - Arrow on: every Python-side kernel moves data as Arrow batches.
    - maxRecordsPerBatch bounded: html payloads are fat rows.
    - codegen cache sized to the working set (``CODEGEN_CACHE_ENTRIES``):
      a plan the session already ran compiles no class again.
    """
    # Make the package importable inside executor Python workers regardless
    # of the driver's cwd. Local mode: workers inherit PYTHONPATH. Cluster
    # mode: ship the package with ``spark-submit --py-files`` instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
