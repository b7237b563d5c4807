#!/usr/bin/env bash
# Round-boundary battery: the full pytest suite, slow ledger included
# (`-m ""`), in the tier-1 environment, then the DuckDB-oracle check of
# every registry entry. Ends with one summary line holding the passed and
# failed counts of each, and exits non-zero if anything failed.
#
# Usage, from anywhere in the checkout:
#   tools/full_battery.sh [sf_dir]
# sf_dir is passed to tools/check_correctness.py (its default when omitted).
set -u
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
logs="$(mktemp -d)"
trap 'rm -rf "$logs"' EXIT

python -m pytest -m "" tests/ -q --continue-on-collection-errors \
    -p no:cacheprovider 2>&1 | tee "$logs/pytest.log"
python tools/check_correctness.py "$@" 2>&1 | tee "$logs/oracle.log"

# count <word> <line>: the number in front of <word>, 0 when absent
count() { grep -oE "[0-9]+ $1" <<<"$2" | head -1 | cut -d' ' -f1 | grep . || echo 0; }

pytest_line="$(grep -E '[0-9]+ (passed|failed|error)' "$logs/pytest.log" | tail -1)"
oracle_line="$(grep -E '^== [0-9]+ passed' "$logs/oracle.log" | tail -1)"
pytest_pass=$(count passed "$pytest_line")
pytest_fail=$(( $(count failed "$pytest_line") + $(count error "$pytest_line") ))
oracle_pass=$(count passed "$oracle_line")
oracle_fail=$(count failed "$oracle_line")

echo "full battery: pytest ${pytest_pass} passed, ${pytest_fail} failed;" \
     "oracle ${oracle_pass} passed, ${oracle_fail} failed"
[ -n "$pytest_line" ] && [ -n "$oracle_line" ] \
    && [ "$pytest_fail" -eq 0 ] && [ "$oracle_fail" -eq 0 ]
