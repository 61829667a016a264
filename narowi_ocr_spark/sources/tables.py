"""Readers for the driver-provided parquet tables (TESTDATA.md) and for
pages corpora (SURVEY.md §2 S1).

All reads are schema-pruned, declarative ``spark.read.parquet`` scans so
Catalyst pushes filters and prunes columns down to the file scan. At
cluster scale the same call sites switch to the Iceberg catalog via
``format('iceberg')`` (see sink.py for the format switch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

