#!/usr/bin/env bash
# Run the token sketch build via spark-submit --py-files at two cluster
# sizes (N=2 and 4N=8 local cores as the sandbox proxy for N vs 4N
# executors). Usage: tools/run_submit.sh [sequence_table_dir]
set -euo pipefail
cd "$(dirname "$0")/.."

# default to the same table bench.py uses (honors SPARK_GRAFT_BENCH_ROWS)
if [ $# -ge 1 ]; then
    TABLE="$1"
    if [ ! -d "$TABLE" ]; then
        echo "ERROR: table dir not found: $TABLE" >&2
        exit 1
    fi
else
    echo "resolving bench table (generates on first run)..." >&2
    TABLE="$(python -c 'from bench import bench_table_path; print(bench_table_path())')"
fi

ZIP=.cache/tdigest_spark.zip
mkdir -p .cache
rm -f "$ZIP"
(python - <<EOF
import zipfile, pathlib
z = zipfile.ZipFile("$ZIP", "w")
for p in sorted(pathlib.Path("tdigest_spark").rglob("*.py")):
    z.write(p, str(p))
z.close()
EOF
)

LOG=.cache/spark-submit.log
# The workers' PYTHONPATH gets the interpreter-start hook (see
# tools/submit_job.py), so tasks import pyspark from its directory.
for CORES in 2 8; do
    echo "== spark-submit --master local[$CORES] ==" >&2
    # stderr goes to a log, not /dev/null: on failure the driver traceback
    # is the only diagnostic there is
    if ! spark-submit --master "local[$CORES]" \
        --conf spark.ui.enabled=false \
        --conf spark.driver.memory=16g \
        --conf spark.executorEnv.PYTHONPATH="$PWD/tdigest_spark/_worker_site" \
        --py-files "$ZIP" \
        tools/submit_job.py "$TABLE" 2>"$LOG"; then
        echo "spark-submit failed; last stderr lines:" >&2
        tail -30 "$LOG" >&2
        exit 1
    fi
done
