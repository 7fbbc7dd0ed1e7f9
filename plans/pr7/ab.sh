#!/bin/bash
# The sync-benchmark A/B of manifest-served reads: plans/pr5/ab.sh
# (alternating parent/change pairs, then one traced seed-1 run per side
# and workload) on seeds 211-220, which were never used while the change
# was developed (seed 1 was). Same variables as plans/pr5/ab.sh: ROOT
# holds parent/ and change/, OUT is the JSONL file.
#   ROOT=<dir> OUT=<dir>/ab_runs.jsonl plans/pr7/ab.sh
FIRST_SEED=210 exec "$(dirname "$0")/../pr5/ab.sh"
