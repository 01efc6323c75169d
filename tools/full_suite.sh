#!/bin/sh
# Run the full test suite: every tier of tests/, including the `slow`
# tests that the default run deselects (pytest.ini), then the benchmark
# harness's own tests (perfbench/tests). Uses the same environment as
# the default tier-1 run. Extra arguments are passed on to the tests/
# run. Exits non-zero if either suite fails.
#
#   tools/full_suite.sh            # whole suite
#   tools/full_suite.sh -k stream  # a subset, slow tests included
cd "$(dirname "$0")/.." || exit 1
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
python -m pytest tests/ -q -m "slow or not slow" \
    --continue-on-collection-errors -p no:cacheprovider "$@"
engine=$?
python3 -m pytest perfbench/tests -q -p no:cacheprovider
bench=$?
[ "$engine" -eq 0 ] && [ "$bench" -eq 0 ]
