#!/usr/bin/env bash
# Cluster launch (north_rule): ship the package with --py-files and run
# the extraction job over an Iceberg pages table at N executors.
#
# The same job rerun with 4N executors on the same input is the scaling
# measurement; the single-host proxy (local[N] vs local[4N]) is
# tools/core_ladder.py over a benchmark harness — see BENCH.md / BASELINE.md.
#
# Usage: tools/submit_cluster.sh <master> <num_executors> <pages_path> <out_path> [job]
#   job: extraction (default) | release | training — selects
#        tools/run_<job>_job.py; extra args after [job] pass through
#        to the driver (e.g. the release job's blocklist / --no-c4).
set -euo pipefail

MASTER=${1:?master url}
EXECUTORS=${2:?num executors}
PAGES=${3:?pages table path}
OUT=${4:?output path}
JOB=${5:-extraction}
shift $(( $# > 4 ? 5 : 4 ))

REPO="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="$(mktemp -d)/narowi_ocr_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" narowi_ocr_spark)

spark-submit \
  --master "$MASTER" \
  --num-executors "$EXECUTORS" \
  --executor-cores 4 \
  --executor-memory 8g \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.shuffle.partitions=$((EXECUTORS * 8)) \
  "$REPO/tools/run_${JOB}_job.py" "$PAGES" "$OUT" "$@"
