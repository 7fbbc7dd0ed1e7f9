#!/bin/bash
# Alternating parent/change pairs of the sync benchmark, then one traced
# run and one JFR-recorded run per side and workload. $ROOT holds two
# checkouts, parent/ (git archive of the parent commit) and change/; each
# run appends one line (side, workload, seed, pair, trace, result) to $OUT.
# Odd pairs run the parent first, even pairs the change first. Seeds 11-20
# were never used while the change was developed (seed 1 was). Summarise with
#   python3 plans/pr3/table.py plans/pr3/ab_runs.jsonl     (from the repo root)
#   python3 plans/pr3/forks.py $ROOT/jfr/*.jfr
OUT=${OUT:-ab_runs.jsonl}
ROOT=${ROOT:-..}
run() { # side workload seed pair trace [script]
  local dir=$ROOT/$1
  local line
  line=$(cd $dir && python3 syncbench/${6:-run.py} --workload $2 --seed $3 --seconds 10 --trace $5 2>last_$1.err | tail -1)
  echo "{\"side\": \"$1\", \"workload\": \"$2\", \"seed\": $3, \"pair\": $4, \"trace\": $5, \"result\": ${line:-null}}" >> $OUT
}
for wl in backfill steady_tail; do
  for pair in 1 2 3 4 5 6 7 8 9 10; do
    seed=$((pair + 10))
    if (( pair % 2 )); then run parent $wl $seed $pair 0; run change $wl $seed $pair 0
    else run change $wl $seed $pair 0; run parent $wl $seed $pair 0; fi
  done
done
for wl in backfill steady_tail; do
  run parent $wl 1 0 1; run change $wl 1 0 1
done
# JFR: a scratch copy of run.py that starts the harness JVM with a flight
# recording (jdk.ProcessStart is on in the default settings); the
# checkouts' syncbench/run.py stays as it is
mkdir -p $ROOT/jfr
for side in parent change; do
  python3 - "$ROOT/$side/syncbench" <<'EOF'
import sys
src = open(sys.argv[1] + "/run.py").read()
flag = '"-XX:+UseParallelGC",'
src = src.replace(flag, flag + ' "-XX:StartFlightRecording=settings=default,filename=" + os.environ["JFR_OUT"],', 1)
open(sys.argv[1] + "/run_jfr.py", "w").write(src)
EOF
  for wl in backfill steady_tail; do
    export JFR_OUT=$(realpath $ROOT/jfr)/${side}_$wl.jfr
    run $side $wl 1 -1 1 run_jfr.py
  done
done
echo DONE
