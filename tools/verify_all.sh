#!/usr/bin/env bash
# Full local verification gate, one command:
#   0. generated docs (OPERATORS.md, COVERAGE.md) in sync
#   1. full pytest suite, incl. the slow lanes and the registry parity
#      lane (every query against its DuckDB oracle at sf0.01)
#   2. the benchmark (warehouse_bench): its unit tests, then one short
#      oracle-checked run of each gated workload (trips_etl, bi_queries)
# Any failure stops the gate.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== [0/2] generated docs in sync =="
python tools/operators_md.py --check
python tools/coverage_md.py --check

echo "== [1/2] pytest (FULL suite, incl. slow lanes) =="
# pytest.ini deselects `slow` for the default run; this gate runs
# everything.
python -m pytest tests/ -q -m "slow or not slow"

echo "== [2/2] benchmark: unit tests + one run per gated workload =="
python -m pytest warehouse_bench/tests -q
for workload in trips_etl bi_queries; do
    out=$(python3 warehouse_bench/run.py --workload "$workload" --seed 1 --seconds 5 --trace 0)
    echo "$out"
    # run.py exits 0 whatever its oracle check found; its last line is
    # the result, so fail the gate unless every op was correct.
    tail -n 1 <<<"$out" | grep -q '"correct": true'
done
