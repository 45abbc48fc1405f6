#!/usr/bin/env bash
# Package the engine as a zip and run the KG job (scripts/submit_job.py)
# with spark-submit --py-files from a scratch working directory, so the
# driver and the executors import the package from the zip, never from the
# working tree. The master comes from MASTER (local[4] when unset; yarn or
# k8s://... on a cluster); every argument goes through to submit_job.py.
# Give it absolute paths: the scratch directory is removed on exit.
#
#   MASTER='local[4]' scripts/run_spark_submit.sh --demo-pages 200 --out /tmp/kg_catalog
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
WORK="$(mktemp -d)"
trap 'rm -rf "$WORK"' EXIT

cd "$REPO"
zip -qr "$WORK/graphrag_mrkr_2_spark.zip" graphrag_mrkr_2_spark -x '*__pycache__*'
cp scripts/submit_job.py "$WORK/"

cd "$WORK"  # leave the repo so the package can only come from the zip
spark-submit \
  --master "${MASTER:-local[4]}" \
  --py-files "$WORK/graphrag_mrkr_2_spark.zip" \
  "$WORK/submit_job.py" "$@"
