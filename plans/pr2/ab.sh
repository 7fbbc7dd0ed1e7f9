#!/bin/bash
# Alternating parent/change pairs of the sync benchmark. $ROOT holds two
# checkouts, parent/ (git archive of the parent commit) and change/; each
# run appends one line (side, workload, seed, pair, trace, result) to $OUT.
# Odd seeds run the parent first, even seeds the change first; seed 1 was
# the only one used while the change was developed. Summarise with
#   python3 plans/pr2/table.py plans/pr2/ab_runs.jsonl   (from the repo root)
OUT=${OUT:-ab_runs.jsonl}
run() { # side workload seed pair trace
  local dir=${ROOT:-..}/$1
  local line
  line=$(cd $dir && python3 syncbench/run.py --workload $2 --seed $3 --seconds 10 --trace $5 2>last_$1.err | tail -1)
  echo "{\"side\": \"$1\", \"workload\": \"$2\", \"seed\": $3, \"pair\": $4, \"trace\": $5, \"result\": ${line:-null}}" >> $OUT
}
for wl in backfill steady_tail; do
  for seed in 1 2 3 4 5 6 7 8 9 10; do
    if (( seed % 2 )); then run parent $wl $seed $seed 0; run change $wl $seed $seed 0
    else run change $wl $seed $seed 0; run parent $wl $seed $seed 0; fi
  done
done
for wl in backfill steady_tail; do
  run parent $wl 1 0 1; run change $wl 1 0 1
done
echo DONE
