#!/usr/bin/env bash
# Package joie_spark and run the build+query job via spark-submit --py-files
# (north-rule deployment shape).  Local smoke: generates a small corpus.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_SUBMIT="${SPARK_SUBMIT:-spark-submit}"
command -v "$SPARK_SUBMIT" >/dev/null || SPARK_SUBMIT=/opt/spark/bin/spark-submit

WORK="$(mktemp -d)"
trap 'rm -rf "$WORK"' EXIT

# package the library
(cd "$REPO" && zip -qr "$WORK/joie_spark.zip" joie_spark -x '*__pycache__*')

# small deterministic corpus
python - "$WORK/corpus.parquet" <<'EOF'
import sys
sys.path.insert(0, "/root/repo")
import pyarrow.parquet as pq
from joie_spark.corpus import generate_rows, to_arrow
rows = generate_rows(40)
pq.write_table(to_arrow(rows), sys.argv[1])
print("turns:", len(rows))
EOF

"$SPARK_SUBMIT" \
  --master "local[${SPARK_GRAFT_CPUS:-8}]" \
  --conf spark.sql.shuffle.partitions=8 \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --py-files "$WORK/joie_spark.zip" \
  "$REPO/scripts/submit_job.py" \
  --input "$WORK/corpus.parquet" --index "$WORK/index" "$@"
