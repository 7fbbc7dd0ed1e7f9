#!/bin/bash
# Alternating parent/change pairs of the sync benchmark, then one traced
# run per side and workload. $ROOT holds two checkouts, parent/ (git
# archive of the parent commit) and change/; each run appends one line
# (side, workload, seed, pair, trace, result) to $OUT, and each traced
# run's trace.json is copied to $ROOT/traces/<side>_<workload>.json.
# Odd pairs run the parent first, even pairs the change first. Pair k runs
# seed FIRST_SEED + k; seeds 51-70 were never used while the change was
# developed (seed 1 was). WORKLOADS picks the workloads, TRACED=0 skips
# the traced runs. Summarise with
#   python3 plans/pr5/table.py plans/pr5/ab_runs.jsonl     (from the repo root)
OUT=${OUT:-ab_runs.jsonl}
ROOT=${ROOT:-..}
FIRST_SEED=${FIRST_SEED:-50}
WORKLOADS=${WORKLOADS:-"backfill steady_tail"}
TRACED=${TRACED:-1}
run() { # side workload seed pair trace
  local dir=$ROOT/$1
  local line
  line=$(cd $dir && python3 syncbench/run.py --workload $2 --seed $3 --seconds 10 --trace $5 2>last_$1.err | tail -1)
  echo "{\"side\": \"$1\", \"workload\": \"$2\", \"seed\": $3, \"pair\": $4, \"trace\": $5, \"result\": ${line:-null}}" >> $OUT
}
for wl in $WORKLOADS; do
  for pair in 1 2 3 4 5 6 7 8 9 10; do
    seed=$((pair + FIRST_SEED))
    if (( pair % 2 )); then run parent $wl $seed $pair 0; run change $wl $seed $pair 0
    else run change $wl $seed $pair 0; run parent $wl $seed $pair 0; fi
  done
done
(( TRACED )) || { echo DONE; exit 0; }
mkdir -p $ROOT/traces
for wl in $WORKLOADS; do
  for side in parent change; do
    run $side $wl 1 0 1
    cp $ROOT/$side/syncbench/.work/$wl/trace.json $ROOT/traces/${side}_$wl.json
  done
done
echo DONE
