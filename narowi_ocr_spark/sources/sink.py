"""Writers, salted partitioning, and the per-run metrics manifest
(SURVEY.md §2 S3-S5, §4 partitioning row; north_rule resumability +
per-partition lineage).

The Iceberg runtime jar is not present in the sandbox, so the table format
is a single switch here: ``format('iceberg')`` on a cluster, parquet
locally. Layout (bucketed url-hash partitioning, append snapshots, a
metrics manifest next to the data) is identical either way.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Flip to "iceberg" on clusters with the runtime jar on the classpath.
TABLE_FORMAT = os.environ.get("NAROWI_TABLE_FORMAT", "parquet")


def url_host(url: Column | str) -> Column:
    """Host component of a url — the key under which Common-Crawl-style
    corpora are skewed (a few hot hosts own a large share of pages)."""
    u = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(u, r"^[a-zA-Z]+://([^/]+)", 1)


def salted_host_key(url: Column | str, n_salts: int = 8) -> Column:
    """Host key with a per-url salt suffix: a hot host's pages spread
    over ``n_salts`` distinct partition keys instead of landing on one
    reducer (north_rule skew requirement). Host-level operations then
    aggregate the ≤ n_salts sub-groups in a cheap second step."""
    u = F.col(url) if isinstance(url, str) else url
    salt = F.pmod(F.xxhash64(u), F.lit(n_salts))
    return F.concat(url_host(u), F.lit("#"), salt.cast("string"))


def salted_repartition(
    df: DataFrame, key: str, n_partitions: int, n_salts: int = 8
) -> DataFrame:
    """Repartition by the salted host key (vs. raw host, under which hot
    hosts concentrate whole partitions — see BENCH.md histogram)."""
    return df.repartition(n_partitions, salted_host_key(key, n_salts))


def write_results(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S3/S4: persist result rows (parquet locally, Iceberg on cluster)."""
    df.write.format(TABLE_FORMAT).mode(mode).save(path)


CSV_HEADER = (
    "Image Path", "Timestamp", "Status", "Reading Type",
    "Value", "Unit", "Is Valid", "Confidence",
)


def export_csv(results: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: the reference's fixed 8-column CSV export
    (data_processor.py:198-221 — 'Image Path, Timestamp, Status, Reading
    Type, Value, Unit, Is Valid, Confidence'; one row per (doc, reading),
    docs with no readings emit nothing — inner explode)."""
    flat = results.select(
        F.col("url").alias(CSV_HEADER[0]),
        F.col("warc_ts").cast("string").alias(CSV_HEADER[1]),
        F.col("status").alias(CSV_HEADER[2]),
        F.explode("readings").alias("r"),
        F.col("confidence").alias("_conf"),
    ).select(
        CSV_HEADER[0],
        CSV_HEADER[1],
        CSV_HEADER[2],
        F.col("r.type").alias(CSV_HEADER[3]),
        F.col("r.value").alias(CSV_HEADER[4]),
        F.col("r.unit").alias(CSV_HEADER[5]),
        F.col("r.is_valid").alias(CSV_HEADER[6]),
        F.col("_conf").alias(CSV_HEADER[7]),
    )
    flat.write.option("header", True).mode(mode).csv(path)


def _partition_rows(df: DataFrame) -> DataFrame:
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows")
    )


def partition_histogram(df: DataFrame) -> DataFrame:
    """Rows per physical partition — the skew evidence the metrics
    manifest records (BASELINE.md protocol step 3)."""
    return _partition_rows(df).orderBy("partition_id")


def collect_partition_histogram(df: DataFrame) -> list[dict]:
    """``partition_histogram`` as a list of dicts. Its rows (one per
    partition) are sorted on the driver, so the collect is one
    aggregate and no range-partitioned sort."""
    rows = _partition_rows(df).collect()
    return sorted((r.asDict() for r in rows), key=lambda h: h["partition_id"])


def write_manifest(df: DataFrame, manifest_dir: str, run_info: dict) -> dict:
    """S5: per-partition lineage + run metrics manifest. On Iceberg this
    is the snapshot's companion metrics table; locally a JSON file. The
    histogram collect is O(partitions), never O(rows)."""
    os.makedirs(manifest_dir, exist_ok=True)
    hist = collect_partition_histogram(df)
    rows = sum(h["rows"] for h in hist)
    manifest = {
        **run_info,
        "rows": rows,
        "partitions": len(hist),
        "partition_histogram": hist,
        "max_partition_rows": max((h["rows"] for h in hist), default=0),
        "skew_ratio": (
            round(max(h["rows"] for h in hist) / (rows / len(hist)), 4)
            if hist and rows
            else None
        ),
    }
    with open(os.path.join(manifest_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest
