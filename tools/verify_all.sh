#!/usr/bin/env bash
# Single-command verification for the whole repo — the exact commands that
# produce each round's artifacts (run from the repo root, idle box):
#
#   tools/verify_all.sh            # sweep + tests + plans + bench smoke
#   tools/verify_all.sh sweep      # margin audit + oracle sweep (-> stdout; redirect
#                                  #   to ORACLE_SWEEP_r{N}.txt)
#   tools/verify_all.sh tests      # full pytest suite only
#   tools/verify_all.sh plans      # plan-regression check of every declared
#                                  #   query vs the committed PLAN_INVENTORY.json
#   tools/verify_all.sh bench      # full bench only (-> stdout JSON line;
#                                  #   redirect to BENCH_r{N}.json)
#
# Never run the sweep or tests concurrently with bench (SCALE.md "Bench
# notes": a concurrent Spark job inflates Arrow-stage numbers 1.2-1.5x).
set -euo pipefail
cd "$(dirname "$0")/.."

stage="${1:-all}"

run_sweep() {
  echo "== transcendental rounding-margin audit (sf0.01) =="
  python tools/margin_check.py
  echo "== oracle sweep (every queries() entry vs DuckDB at sf0.01) =="
  python tools/oracle_check.py
}

run_tests() {
  echo "== pytest (full suite, slow tier included) =="
  python -m pytest tests/ -q --runslow
}

run_plans() {
  echo "== plan-regression check (every declared query vs PLAN_INVENTORY.json) =="
  python tools/plan_inventory.py --check
}

run_bench() {
  echo "== bench (headline suite, sf0.1, median-of-5 warm) ==" >&2
  python bench.py
}

case "$stage" in
  sweep) run_sweep ;;
  tests) run_tests ;;
  plans) run_plans ;;
  bench) run_bench ;;
  all)   run_sweep && run_tests && run_plans && run_bench ;;
  *) echo "usage: $0 [sweep|tests|plans|bench|all]" >&2; exit 2 ;;
esac
