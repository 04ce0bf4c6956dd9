#!/usr/bin/env bash
# Alternating same-session A/B of two checkouts on the benchmark of record.
#
# Usage: scripts/bench_ab.sh PARENT_DIR CHANGE_DIR WORKLOAD N
#
# Runs `perfbench/run.py --workload WORKLOAD` N times in each checkout,
# interleaved pair by pair on shared seeds (BASE_SEED+1 .. BASE_SEED+N), the
# order within a pair alternating so host drift does not favour one side.
# Each checkout builds and runs in its own work directory
# (CARGO_TARGET_DIR = $AB_WORK/parent or $AB_WORK/change), so the two builds
# never share classes. At the end it prints perfbench/compare.py (from
# CHANGE_DIR) over the records of this session's runs, which it also keeps
# in $AB_WORK/{parent,change}.jsonl.
#
# Run length is CHANGE_DIR's BENCHMARK.json run_seconds, the same on both
# sides. Environment: AB_WORK (default .bench_ab in this repo), BASE_SEED
# (default 100), TRACE (0 or 1, default 0).
set -u
if [ $# -ne 4 ]; then
  sed -n '4p' "$0" >&2
  exit 2
fi
parent=$(cd "$1" && pwd) || exit 2
change=$(cd "$2" && pwd) || exit 2
workload=$3
n=$4
root=$(cd "$(dirname "$0")/.." && pwd)
work=${AB_WORK:-$root/.bench_ab}
mkdir -p "$work/parent" "$work/change"
work=$(cd "$work" && pwd)
base=${BASE_SEED:-100}
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change/BENCHMARK.json") || exit 2

lines() { if [ -f "$1" ]; then wc -l <"$1"; else echo 0; fi; }
declare -A before
for side in parent change; do
  before[$side]=$(lines "$work/$side/results.jsonl")
done

run() { # side seed
  local side=$1 seed=$2 dir
  if [ "$side" = parent ]; then dir=$parent; else dir=$change; fi
  echo "[bench_ab] $side seed $seed" >&2
  CARGO_TARGET_DIR="$work/$side" python3 "$dir/perfbench/run.py" --workload "$workload" \
    --seed "$seed" --seconds "$seconds" --trace "${TRACE:-0}" \
    || echo "[bench_ab] $side seed $seed failed" >&2
}

for i in $(seq 1 "$n"); do
  seed=$((base + i))
  if [ $((i % 2)) -eq 1 ]; then
    run parent "$seed"; run change "$seed"
  else
    run change "$seed"; run parent "$seed"
  fi
done

for side in parent change; do
  tail -n +"$((before[$side] + 1))" "$work/$side/results.jsonl" >"$work/$side.jsonl"
done
python3 "$change/perfbench/compare.py" "$work/parent.jsonl" "$work/change.jsonl"
