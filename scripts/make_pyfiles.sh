#!/usr/bin/env bash
# Package the engine for spark-submit --py-files deployment.
# Usage: scripts/make_pyfiles.sh [OUT]  →  OUT (default dist/jdt_spark.zip)
set -euo pipefail
repo="$(cd "$(dirname "$0")/.." && pwd)"
out="$(realpath -m "${1:-$repo/dist/jdt_spark.zip}")"
cd "$repo"
mkdir -p "$(dirname "$out")"
rm -f "$out"
python - "$out" <<'EOF'
import sys
import zipfile
from pathlib import Path

root = Path("jira_duplicate_detection_turkcell__spark")
with zipfile.ZipFile(sys.argv[1], "w", zipfile.ZIP_DEFLATED) as z:
    for py in sorted(root.rglob("*.py")):
        z.write(py, py.as_posix())
print(f"wrote {sys.argv[1]}")
EOF
cat <<'EOF'
Deploy example (multi-executor cluster):
  spark-submit \
    --master yarn --deploy-mode cluster \
    --num-executors 1000 --executor-cores 4 --executor-memory 16g \
    --conf spark.sql.shuffle.partitions=8000 \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.python.daemon.module=jira_duplicate_detection_turkcell__spark.warm_daemon \
    --py-files dist/jdt_spark.zip \
    jira_duplicate_detection_turkcell__spark/cli.py \
    dedup --input s3://bucket/pages --output s3://bucket/clusters \
    --checkpoint-dir s3://bucket/ckpt

Sandbox smoke (local mode):
  spark-submit --master 'local[8]' --py-files dist/jdt_spark.zip \
    jira_duplicate_detection_turkcell__spark/cli.py \
    dedup --synth-n 2000 --output /tmp/jdt_clusters
EOF
