#!/usr/bin/env bash
# Package the engine and run the extraction job via spark-submit --py-files.
# Usage: scripts/submit.sh <input> <output> [spark-submit args...] [-- job args...]
#   e.g. scripts/submit.sh in.parquet out/ --conf spark.ui.enabled=false -- --mode single --no-resume
# Executors, and the machine submitting the job, need libxml2.so.2 2.9.x
# (html_table_spark/libxml2.py binds it over ctypes); executors also need a
# C compiler and Python's headers: --py-files ships the package's Python and
# the C source of its tree walker (_tree.c), nothing compiled. Each
# executor compiles the walker on its first parse into
# $XDG_CACHE_HOME/html_table_spark (default ~/.cache/html_table_spark),
# once per source and Python version; the driver only plans the job.
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

# the zip's directory is removed on exit, once spark-submit has exited;
# TERM/INT reach spark-submit, and the exit status is spark-submit's
ZIP_DIR="$(mktemp -d)"
trap 'rm -rf "$ZIP_DIR"' EXIT
ZIP="$ZIP_DIR/html_table_spark.zip"
python3 "$REPO/scripts/pack_py_files.py" "$ZIP"

spark-submit \
    --master "${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-$(nproc)}]}" \
    --py-files "$ZIP" \
    ${SUBMIT_ARGS[@]+"${SUBMIT_ARGS[@]}"} \
    "$REPO/html_table_spark/plans/job.py" \
    --input "$INPUT" --output "$OUTPUT" ${JOB_ARGS[@]+"${JOB_ARGS[@]}"} &
pid=$!
trap 'kill -TERM "$pid" 2>/dev/null || true' TERM INT
# a trapped signal ends the first wait early; the second returns
# spark-submit's exit status, which set -e exits with
wait "$pid" || true
wait "$pid"
