#!/usr/bin/env bash
# North-rule drive mode: the checkpointed pipeline via spark-submit
# --py-files (the cluster deployment shape — BASELINE.md protocol).
#
#   tools/run_submit.sh <master> <docs_parquet> <workdir> [zones_parquet]
#
# Packages asag_spark into a zip (what a cluster submit ships to the
# executors), then drives plans/job.py with it. Example, on the inputs
# `python3 perfbench/run.py --workload geo_job` generates:
#   tools/run_submit.sh local[4] .perfbench_cache/geo_job-full-seed1/docs \
#     /tmp/wd .perfbench_cache/geo_job-full-seed1/zones
set -euo pipefail

MASTER="${1:?master (e.g. local[8])}"
INPUT="${2:?docs parquet dir}"
WORKDIR="${3:?checkpoint workdir}"
ZONES="${4:-}"

REPO="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="/tmp/asag_spark_pkg.zip"
(cd "$REPO" && rm -f "$ZIP" && zip -qr "$ZIP" asag_spark -x '*__pycache__*')

ARGS=(--input "$INPUT" --workdir "$WORKDIR" --master "$MASTER")
[ -n "$ZONES" ] && ARGS+=(--zones "$ZONES")

exec spark-submit \
  --master "$MASTER" \
  --conf spark.ui.enabled=false \
  --py-files "$ZIP" \
  "$REPO/asag_spark/plans/job.py" "${ARGS[@]}"
