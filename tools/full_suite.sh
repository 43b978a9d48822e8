#!/usr/bin/env bash
# Full test suite: the tier-1 command with the `slow` marker included
# (pytest.ini's default `-m "not slow"` skips the multi-process DML
# races, exactly-once replay, restore/pruning soundness sweeps and the
# bench guard). Run from anywhere; extra arguments go to pytest.
#
#   tools/full_suite.sh            # whole suite
#   tools/full_suite.sh -x -k dml  # narrowed
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
exec timeout -k 10 5400 \
    python -m pytest tests/ -q --continue-on-collection-errors \
    -p no:cacheprovider -m "slow or not slow" "$@"
