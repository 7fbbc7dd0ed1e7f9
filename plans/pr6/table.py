"""Summarise the A/B of the streaming-session recipe.

    python3 plans/pr6/table.py plans/pr6/ab_runs.jsonl     (from the repo root)

Prints plans/pr5/table.py's tables (end-to-end metrics per workload, and
the traced seed-1 layers), then the traced layers this change moves: the
source's offset and batch phases, the checkpoint log's two writes, and
the widest stage of a batch.
"""
import json
import runpy
import sys

runpy.run_path('plans/pr5/table.py', run_name='__main__')

keys = ['sources.latest_offset_ms', 'sources.get_batch_ms', 'streaming.query_planning_ms',
        'streaming.wal_commit_ms', 'streaming.commit_offsets_ms', 'streaming.add_batch_ms',
        'streaming.driver_gap_ms', 'streaming.trigger_ms', 'streaming.tasks_per_stage_max',
        'streaming.jobs_per_batch']
tr = [json.loads(l) for f in sys.argv[1:] for l in open(f) if l.strip()]
tr = [r for r in tr if r['trace'] == 1 and r['pair'] == 0 and r['result']]
print("\n### traced (seed 1), source and checkpoint layers")
print("| workload | metric | parent | change |\n|---|---|---|---|")
for wl in ('steady_tail', 'backfill'):
    v = {r['side']: r['result']['metrics'] for r in tr if r['workload'] == wl}
    for k in keys:
        cell = lambda s: f"{v[s][k]['value']:.4g}" if k in v.get(s, {}) else '-'
        print(f"| {wl} | {k} | {cell('parent')} | {cell('change')} |")
