#!/bin/bash
# Replay-row A/B of graft.Bench: alternates two checkouts, RUNS runs each,
# every run restricted to the streaming-replay rows (the rows whose timed
# run ticks StreamedBatch.replayRuns, as Bench classifies them). $ROOT holds
# parent/ (git archive of the parent commit) and change/; each run appends
# one line {"side", "run", "result"} to $OUT, where result is Bench's full
# JSON line (per-query medians over its sweeps, replay_total, ...). Odd runs
# start with the parent, even runs with the change. Then prints the
# replay_total median and quartiles per side. Bench's own knobs pass
# through, e.g. SPARK_GRAFT_BENCH_SWEEPS=1 for one sweep per run; sbt
# needs the offline SBT_OPTS of ROADMAP's tier-1 line. ROWS (comma-separated
# Bench row names) restricts the runs to a subset; it defaults to every
# replay row.
#   ROOT=<dir> SF_DIR=<sf0.01 test data> [ROWS=a,b,...] plans/pr4/replay_ab.sh
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
for side in ("parent", "change"):
    v = sorted(r["result"]["replay_total"] for r in runs
               if r["side"] == side and r["result"])
    if len(v) < 2:
        print(side, v); continue
    q = statistics.quantiles(v, n=4, method="inclusive")
    print(f"{side}: replay_total median {statistics.median(v):.1f} s "
          f"[{q[0]:.1f}-{q[2]:.1f}] over {len(v)} runs: {v}")
PY
