#!/bin/bash
# The sync-benchmark A/B of in-place compaction and retention:
# plans/pr5/ab.sh (alternating parent/change pairs, then one traced seed-1
# run per side and workload) on seeds 301-310, which were never used while
# the change was developed. Same variables as plans/pr5/ab.sh: ROOT holds
# parent/ and change/, OUT is the JSONL file.
#   ROOT=<dir> OUT=<dir>/ab_runs.jsonl plans/pr8/ab.sh
FIRST_SEED=300 exec "$(dirname "$0")/../pr5/ab.sh"
