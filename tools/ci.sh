#!/usr/bin/env bash
# One-command release gate: every check, locally, failing on any red.
#
#   tools/ci.sh           # full gate: dtypes + catalog oracle + pytest +
#                         # one benchmark seed per workload + one traced
#   tools/ci.sh --fast    # skip the benchmark (the slow step) — the
#                         # correctness gate alone
#
# Steps:
#   1. tools/dtypecheck.py — DuckDB output-type lint over all oracles;
#      catches the HUGEINT class without running Spark at all.
#   2. tools/selfcheck.py  — Spark vs DuckDB oracle gate over the whole
#      catalog at sf0.01.
#   3. pytest tests/       — the unit/property suite, slow tests included.
#   4. perfbench/run.py    — one seed of each BENCHMARK.json workload,
#      plus one traced index_search seed (it calls _sparse_postings(),
#      _ann_index() and the top-k operators directly, as its per-layer
#      metrics do); fails when a run exits non-zero or reports a failed
#      operation.
set -u
cd "$(dirname "$0")/.."

fast=0
[ "${1:-}" = "--fast" ] && fast=1

fail=0
step() {
  local label=$1
  shift
  echo "== ci: $label"
  "$@" || { echo "== ci: FAILED: $label"; fail=1; }
}

bench() {
  local out
  out=$(python3 perfbench/run.py --workload "$1" --seed 1 --seconds 5 --trace "${2:-0}") || return 1
  echo "$out"
  echo "$out" | tail -n 1 | python3 -c 'import json, sys; sys.exit(0 if json.load(sys.stdin)["correct"] else 1)'
}

step "oracle output dtypes (HUGEINT lint)" python tools/dtypecheck.py
step "full-catalog oracle gate (sf0.01)" python tools/selfcheck.py /root/testdata/sf0.01
# CI runs the FULL suite including @pytest.mark.slow end-to-end tests;
# a bare `pytest tests/` skips them to keep the default run short
step "pytest (full, incl. slow)" env CCMS_FULL_TESTS=1 python -m pytest tests/ -x -q
if [ "$fast" = 0 ]; then
  step "benchmark index_search (seed 1)" bench index_search
  step "benchmark catalog_headline (seed 1)" bench catalog_headline
  step "benchmark index_search traced (seed 1)" bench index_search 1
fi

if [ "$fail" = 0 ]; then
  echo "== ci: ALL GREEN"
else
  echo "== ci: RED"
fi
exit $fail
