"""Summarise alternating parent/change runs of the sync benchmark.

    python3 plans/pr5/table.py plans/pr5/ab_runs.jsonl [more.jsonl ...]     (from the repo root)

Per workload and end-to-end metric: medians and quartiles per side, the
median change, pairs won by the change, and whether the median moved by
more than the parent's interquartile range. A pair is one seed, so files
of runs on distinct seeds can be read together. Then the traced runs
(trace 1, pair 0) side by side.
"""
import json
import statistics
import sys

rows = [json.loads(l) for f in sys.argv[1:] for l in open(f) if l.strip()]
ee = json.load(open('BENCHMARK.json'))['end_to_end']


def q(xs):
    a = statistics.quantiles(xs, n=4, method='inclusive')
    return a[0], statistics.median(xs), a[2]


def g(v):
    return f"{v:.0f}" if abs(v) >= 100 else f"{v:.3g}"


for wl in ('backfill', 'steady_tail'):
    runs = [r for r in rows if r['workload'] == wl and r['trace'] == 0]
    bad = [r for r in runs if not r['result'] or not r['result'].get('correct') or r['result'].get('failed')]
    print(f"\n### {wl}: {len(runs)} runs, incorrect or with failed operations: {len(bad)}")
    print("| metric | parent median [q1–q3] | change median [q1–q3] | Δ median | pairs won | gap > parent IQR | bound |")
    print("|---|---|---|---|---|---|---|")
    for m in ee:
        name, lower = m['name'], m['better'] == 'lower'
        side = {s: {r['seed']: r['result']['metrics'][name]['value'] for r in runs if r['side'] == s and r['result']}
                for s in ('parent', 'change')}
        pairs = sorted(set(side['parent']) & set(side['change']))
        if not pairs:
            continue
        p = [side['parent'][k] for k in pairs]
        c = [side['change'][k] for k in pairs]
        won = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        pq, cq = q(p), q(c)
        d = (cq[1] - pq[1]) / pq[1]
        worse = d > m['bound'] if lower else -d > m['bound']
        gap = abs(cq[1] - pq[1]) > pq[2] - pq[0]
        fmt = lambda t: f"{g(t[1])} [{g(t[0])}–{g(t[2])}]"
        print(f"| {name} ({m['unit']}) | {fmt(pq)} | {fmt(cq)} | {d:+.1%} | {won}/{len(pairs)} | "
              f"{'yes' if gap else 'no'} | {m['bound']}{' EXCEEDED' if worse else ''} |")

tr = [r for r in rows if r['trace'] == 1 and r['pair'] == 0]
if tr:
    print("\n### traced (seed 1)")
    keys = ['sources.get_batch_ms', 'streaming.batches', 'streaming.trigger_ms', 'streaming.add_batch_ms',
            'streaming.busy_share', 'streaming.jobs_per_batch', 'streaming.driver_gap_ms',
            'streaming.foreach_self_ms', 'streaming.gc_ms', 'operators.shuffle_bytes', 'sinks.write_ms',
            'sinks.jobs_per_write', 'sinks.files_per_batch', 'sinks.bytes_per_batch', 'sinks.store_files',
            'sinks.compact_ms']
    print("| workload | metric | parent | change |\n|---|---|---|---|")
    for wl in ('backfill', 'steady_tail'):
        for k in keys:
            v = {r['side']: (r['result'] or {}).get('metrics', {}).get(k, {}).get('value') for r in tr
                 if r['workload'] == wl}
            print(f"| {wl} | {k} | {g(v['parent']) if v.get('parent') is not None else '-'} | "
                  f"{g(v['change']) if v.get('change') is not None else '-'} |")
