#!/usr/bin/env bash
# Full local verification gate, one command:
#   0. generated docs (OPERATORS.md, COVERAGE.md) in sync
#   1. full pytest suite, incl. the slow lanes and the registry parity
#      lane (every query against its DuckDB oracle at sf0.01)
#   2. headline bench (prints one JSON line)
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

echo "== [2/2] headline bench =="
python bench.py
