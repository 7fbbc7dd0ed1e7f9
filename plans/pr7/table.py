"""Summarise the A/B of manifest-served reads.

    python3 plans/pr7/table.py plans/pr7/ab_runs.jsonl     (from the repo root)

Prints plans/pr5/table.py's tables (end-to-end metrics per workload, and
the traced seed-1 layers), then the read layers this change moves, from
the traced runs' trace.json in plans/pr7/traces: the read mix's driver
and job self time, the files and bytes each query scans, and compaction.
"""
import json
import os
import runpy
import sys

runpy.run_path('plans/pr5/table.py', run_name='__main__')

traces = os.path.join(os.path.dirname(sys.argv[1]), 'traces')
print("\n### traced (seed 1), read layers")
print("| workload | metric | parent | change |\n|---|---|---|---|")
for wl in ('steady_tail', 'backfill'):
    v = {}
    for side in ('parent', 'change'):
        with open(os.path.join(traces, f'{side}_{wl}.json')) as f:
            t = json.load(f)
        v[side] = {**{f'read_self_ms.{k}': x for k, x in t['read_self_ms'].items()},
                   **{k: x for k, x in t['layers'].items()
                      if k.startswith('sinks.read') or k.startswith('sinks.compact')}}
    for k in v['parent']:
        cell = lambda s: f"{v[s][k]:.4g}" if k in v[s] else '-'
        print(f"| {wl} | {k} | {cell('parent')} | {cell('change')} |")
