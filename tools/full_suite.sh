#!/bin/sh
# Run the full test suite: every tier, including the `slow` tests that
# the default run deselects (pytest.ini). Uses the same environment as
# the default tier-1 run. Extra arguments are passed on to pytest.
#
#   tools/full_suite.sh            # whole suite
#   tools/full_suite.sh -k stream  # a subset, slow tests included
set -e
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
exec python -m pytest tests/ -q -m "slow or not slow" \
    --continue-on-collection-errors -p no:cacheprovider "$@"
