#!/bin/bash
# The whole gate in one shot: compile, tests, every registered plan,
# oracle verify, bench, the benchmark's unit tests and one short checked
# run of each benchmark workload.
# Usage: tools/full_check.sh  (from /root/repo)
set -eo pipefail
cd "$(dirname "$0")/.."
echo "== compile"; sbt -batch compile | tail -1
echo "== test";    sbt -batch test 2>&1 | grep -E "Tests:|All tests" | tail -2
echo "== plans: every registered query's plan builds (count printed)"
tools/run.sh graft.Inspect plan /root/testdata/sf0.001 all 2>/dev/null | grep -c "^===== "
echo "== verify sf0.01 vs DuckDB oracle"
SPARK_GRAFT_CPUS=16 tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/graft_verify 2>/dev/null | tail -2
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/graft_verify | tail -3
echo "== bench sf0.1"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 tools/run.sh graft.Bench 2>/dev/null
echo "== perfbench unit tests"
python3 -m unittest discover -s perfbench/tests 2>&1 | tail -1
echo "== perfbench dashboard (short checked run; non-zero on any failed check)"
python3 perfbench/run.py --workload dashboard --seed 1 --seconds 3 --trace 0 | tail -1
echo "== perfbench analytics (short checked run; non-zero on any failed check)"
python3 perfbench/run.py --workload analytics --seed 1 --seconds 3 --trace 0 | tail -1
