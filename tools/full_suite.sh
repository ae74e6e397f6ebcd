#!/usr/bin/env bash
# Full test suite: the default tier plus the slow tier (`-m ""` overrides
# the `-m "not slow"` in pytest.ini), in the tier-1 environment from
# ROADMAP.md. Extra arguments go to pytest.
#
#   tools/full_suite.sh                   # everything
#   tools/full_suite.sh -x --durations=20
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
exec python -m pytest tests/ -m "" -q --continue-on-collection-errors \
    -p no:cacheprovider "$@"
