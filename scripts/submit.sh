#!/usr/bin/env bash
# Package the engine and run the extraction job via spark-submit --py-files.
# Usage: scripts/submit.sh <input> <output> [spark-submit args...] [-- job args...]
#   e.g. scripts/submit.sh in.parquet out/ --conf spark.ui.enabled=false -- --mode single --no-resume
# Executors, and the machine submitting the job, need libxml2.so.2 2.9.x
# (html_table_spark/libxml2.py binds it over ctypes): --py-files ships
# Python only, nothing compiled.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
INPUT="${1:?input corpus path}"
OUTPUT="${2:?output sink root}"
shift 2 || true

SUBMIT_ARGS=()
JOB_ARGS=()
seen_sep=0
for arg in "$@"; do
    if [[ "$arg" == "--" && $seen_sep -eq 0 ]]; then
        seen_sep=1
    elif [[ $seen_sep -eq 0 ]]; then
        SUBMIT_ARGS+=("$arg")
    else
        JOB_ARGS+=("$arg")
    fi
done

ZIP="$(mktemp -d)/html_table_spark.zip"
(cd "$REPO" && python3 - "$ZIP" <<'EOF'
import os, sys, zipfile
zip_path = sys.argv[1]
with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
    for root, _dirs, files in os.walk("html_table_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                zf.write(p, p)
print(zip_path)
EOF
)

exec spark-submit \
    --master "${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-$(nproc)}]}" \
    --py-files "$ZIP" \
    ${SUBMIT_ARGS[@]+"${SUBMIT_ARGS[@]}"} \
    "$REPO/html_table_spark/plans/job.py" \
    --input "$INPUT" --output "$OUTPUT" ${JOB_ARGS[@]+"${JOB_ARGS[@]}"}
