#!/usr/bin/env bash
# Alternating syncbench pairs of two checkouts, $ROOT/parent and
# $ROOT/change, over every workload of BENCHMARK.json at its run_seconds.
# Pair p runs seed p on both sides, p = FIRST_PAIR (default 1) onwards;
# odd pairs start with the parent, even pairs with the change. Each run
# appends one line {"side", "pair", "workload", "result"} to $OUT, where
# result is syncbench/run.py's last JSON line (null if the run printed none).
#   ROOT=<dir> OUT=<file> [PAIRS=3] [FIRST_PAIR=1] plans/pr15/sync_pairs.sh
# Then `python3 plans/pr15/sync_table.py <OUT>` prints the per-metric tables.
set -u
ROOT=$(cd "${ROOT:?set ROOT to the dir holding parent/ and change/}" && pwd)
OUT=$(realpath "${OUT:-sync_runs.jsonl}")
PAIRS=${PAIRS:-3}
FIRST_PAIR=${FIRST_PAIR:-1}
bench="$(cd "$(dirname "$0")/../.." && pwd)/BENCHMARK.json"
secs=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$bench")
workloads=$(python3 -c 'import json, sys; print(" ".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' "$bench")
run() { # side pair workload
  local res
  res=$(cd "$ROOT/$1" && python3 syncbench/run.py --workload "$3" --seed "$2" \
    --seconds "$secs" --trace 0 2> "$ROOT/last_sync_$1.log" | tail -n 1)
  echo "{\"side\": \"$1\", \"pair\": $2, \"workload\": \"$3\", \"result\": ${res:-null}}" >> "$OUT"
}
for w in $workloads; do
  for p in $(seq "$FIRST_PAIR" $((FIRST_PAIR + PAIRS - 1))); do
    if (( p % 2 )); then run parent "$p" "$w"; run change "$p" "$w"
    else run change "$p" "$w"; run parent "$p" "$w"; fi
  done
done
