#!/usr/bin/env bash
# Package the engine and run the KG job (scripts/submit_job.py) via
# spark-submit --py-files. Locally: MASTER=local[32]; on a cluster:
# MASTER=yarn|k8s://... unchanged. PAGES=<path> reads real input with
# FORMAT; unset, the job builds DEMO_PAGES synthetic pages. OUT is a snapshot
# catalog: a re-run over the same input resumes from its committed stages.
set -euo pipefail
cd "$(dirname "$0")/.."

MASTER="${MASTER:-local[32]}"
OUT="${OUT:-/tmp/kg_catalog}"
PARTITIONS="${PARTITIONS:-64}"
FORMAT="${FORMAT:-parquet}"
if [[ -n "${PAGES:-}" ]]; then
  INPUT=(--pages "$PAGES" --format "$FORMAT")
else
  INPUT=(--demo-pages "${DEMO_PAGES:-500}")
fi

ZIP=/tmp/graphrag_mrkr_2_spark.zip
rm -f "$ZIP"
python -c "
import zipfile, os
with zipfile.ZipFile('$ZIP', 'w') as z:
    for root, _, files in os.walk('graphrag_mrkr_2_spark'):
        if '__pycache__' in root: continue
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
print('packaged', '$ZIP')
"

exec spark-submit \
  --master "$MASTER" \
  --conf spark.sql.shuffle.partitions="$PARTITIONS" \
  --conf spark.sql.adaptive.enabled=true \
  --py-files "$ZIP" \
  scripts/submit_job.py "${INPUT[@]}" --out "$OUT" --partitions "$PARTITIONS" "$@"
