#!/bin/bash
# Bench A/B of two checkouts: alternates parent/ and change/ under $ROOT
# (e.g. git archive of the parent commit and of the change), RUNS runs
# each, every run restricted to the ROWS subset of Bench rows (default:
# the streaming-replay rows, the rows whose timed run ticks
# StreamedBatch.replayRuns, as Bench classifies them). Each run appends
# one line {"side", "run", "result"} to $OUT, where result is Bench's full
# JSON line (per-query medians over its sweeps, batch_total,
# replay_total, ...). Odd runs start with the parent, even runs with the
# change; the two lines of one run form a pair. Then prints, for
# batch_total and for replay_total, the median and quartiles per side and
# a paired summary: the median over pairs of (change - parent) and the
# number of pairs the change won (ran faster). A row subset of batch rows
# reads batch_total, a subset of replay rows replay_total. Bench's own
# knobs pass through, e.g. SPARK_GRAFT_BENCH_SWEEPS=1 for one sweep per
# run; sbt needs the offline SBT_OPTS of ROADMAP's tier-1 line.
#   ROOT=<dir> SF_DIR=<sf0.01 test data> [ROWS=a,b,...] [RUNS=n] plans/pr4/replay_ab.sh
OUT=${OUT:-replay_runs.jsonl}
ROOT=$(cd "${ROOT:-..}" && pwd)
RUNS=${RUNS:-3}
: "${SF_DIR:?set SF_DIR to the scale-factor directory}"
ROWS=${ROWS:-cdc_apply_stream,curate_ingest_stream,decontaminate_stream,dedup_gate_evict,dedup_gate_multibatch,dedup_gate_stream,dedup_gate_ttl,dedup_gate_ttl_stored,dedup_lines_evict,dedup_lines_registry,dedup_lines_stream,dedup_lines_ttl,dedup_lines_ttl_stored,mm_phash_gate_stream,q_attribution_multibatch,q_attribution_stream,q_sessionize_multibatch,q_sessionize_stream,q_skyline_stream,q_watermark_decoupled_stream,q_watermark_drops_stream,quality_classifier_stream,quota_gate_multibatch,quota_gate_stream,sample_exact_k_stream,sample_weighted_k_stream,sim_pq_stream,sketch_cms_dot_stream,sketch_freq_cms_stream,sketch_heavy_hitters_stream,sketch_hll_stream,sketch_kmv_stream,sketch_moments_stream,sketch_quantile_stream,sync_ack_ledger_stream,sync_compacted_store,sync_dedup_stream,sync_pipeline_stream,sync_rate_limit_multibatch,sync_rate_limit_stream,sync_rollover_multibatch,sync_rollover_stream,sync_watchdog,text_templates_stream,tokenizer_encode_stream}
export COURSIER_MODE=offline SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=$SF_DIR
run() { # side run
  local res=$ROOT/bench_$1.json
  rm -f $res
  (cd $ROOT/$1 && SPARK_GRAFT_BENCH_ONLY=$ROWS SPARK_GRAFT_BENCH_OUT=$res \
    sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench" > $ROOT/last_$1.log 2>&1)
  echo "{\"side\": \"$1\", \"run\": $2, \"result\": $(cat $res 2>/dev/null || echo null)}" >> $OUT
}
for r in $(seq 1 $RUNS); do
  if (( r % 2 )); then run parent $r; run change $r
  else run change $r; run parent $r; fi
done
python3 - "$OUT" <<'PY'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
# consecutive parent/change lines of the same run are one pair
pairs = [(a, b) for a, b in zip(runs[::2], runs[1::2])
         if a["run"] == b["run"] and {a["side"], b["side"]} == {"parent", "change"}
         and a["result"] and b["result"]]
for metric in ("batch_total", "replay_total"):
    for side in ("parent", "change"):
        v = sorted(r["result"][metric] for r in runs
                   if r["side"] == side and r["result"])
        if len(v) < 2:
            print(metric, side, v); continue
        q = statistics.quantiles(v, n=4, method="inclusive")
        print(f"{side}: {metric} median {statistics.median(v):.2f} s "
              f"[{q[0]:.2f}-{q[2]:.2f}] over {len(v)} runs: {v}")
    d = [next(r for r in p if r["side"] == "change")["result"][metric]
         - next(r for r in p if r["side"] == "parent")["result"][metric]
         for p in pairs]
    if d:
        print(f"paired: {metric} median (change - parent) "
              f"{statistics.median(d):+.2f} s over {len(d)} pairs; "
              f"change won {sum(x < 0 for x in d)}/{len(d)}")
PY
