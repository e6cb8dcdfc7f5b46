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
# the engine conf comes from session.py; the sizing flags are the cluster's
python - <<'EOF'
import shlex

from jira_duplicate_detection_turkcell__spark import session

tuning = "".join(
    f"    --conf {shlex.quote(f'{k}={v}')} \\\n" for k, v in session.TUNING_CONF.items()
)
local = shlex.join(session.submit_args(8, "dist/jdt_spark.zip"))
print(f"""Deploy example (multi-executor cluster):
  spark-submit \\
    --master yarn --deploy-mode cluster \\
    --num-executors 1000 --executor-cores 4 --executor-memory 16g \\
    --conf spark.sql.shuffle.partitions=8000 \\
    --conf spark.memory.offHeap.size=16g \\
{tuning}    --py-files dist/jdt_spark.zip \\
    jira_duplicate_detection_turkcell__spark/cli.py \\
    dedup --input s3://bucket/pages --output s3://bucket/clusters \\
    --checkpoint-dir s3://bucket/ckpt

Sandbox smoke (local mode, from the repo root):
  spark-submit {local} \\
    jira_duplicate_detection_turkcell__spark/cli.py \\
    dedup --synth-n 2000 --output /tmp/jdt_clusters""")
EOF
