#!/bin/bash
# The sync-benchmark A/B of the streaming-session recipe: plans/pr5/ab.sh
# (alternating parent/change pairs, then one traced seed-1 run per side
# and workload) on seeds 91-100, which were never used while the change
# was developed or sized (seeds 1 and 81-85 were). Same variables as
# plans/pr5/ab.sh: ROOT holds parent/ and change/, OUT is the JSONL file.
#   ROOT=<dir> OUT=<dir>/ab_runs.jsonl plans/pr6/ab.sh
FIRST_SEED=90 exec "$(dirname "$0")/../pr5/ab.sh"
