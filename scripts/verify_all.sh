#!/usr/bin/env bash
# One-command verification: unit/property suite, benchmark-harness tests,
# DuckDB-oracle gate for all registered queries, then the sf0.1 benchmark.
# Useful before any commit that touches operators.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== pytest =="
python -m pytest tests/ -q
echo "== benchmark harness self-tests =="
python3 -m pytest vaultbench -q
echo "== heavy vault examples (tier-1 skips them) =="
python -m pytest -m heavy tests/test_examples_2.py -k "vault_to_corpus or incremental_ingest" -q
echo "== oracle result-type lint (sf0.001, DuckDB-only) =="
python scripts/check_oracle.py --lint-types /root/testdata/sf0.001
echo "== oracle gate (sf0.01) =="
python scripts/check_oracle.py /root/testdata/sf0.01
echo "== census-window plan guard (sf0.001, full registry) =="
python scripts/window_guard.py
echo "== bench (sf0.1) =="
python bench.py
