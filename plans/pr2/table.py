import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
bench = json.load(open('BENCHMARK.json'))
ee = bench['end_to_end']
def q(xs):
    a = statistics.quantiles(xs, n=4, method='inclusive')
    return a[0], statistics.median(xs), a[2]
for wl in ('backfill', 'steady_tail'):
    runs = [r for r in rows if r['workload'] == wl and r['trace'] == 0]
    bad = [r for r in runs if not r['result'] or not r['result'].get('correct') or r['result'].get('failed')]
    print(f"\n### {wl}: {len(runs)} runs, incorrect/failed: {len(bad)}")
    print("| metric | parent median [q1–q3] | change median [q1–q3] | Δ median | pairs won | bound |")
    print("|---|---|---|---|---|---|")
    for m in ee:
        name, lower = m['name'], m['better'] == 'lower'
        side = {s: {r['pair']: r['result']['metrics'][name]['value'] for r in runs if r['side'] == s and r['result']} for s in ('parent','change')}
        pairs = sorted(set(side['parent']) & set(side['change']))
        if not pairs: continue
        p = [side['parent'][k] for k in pairs]; c = [side['change'][k] for k in pairs]
        won = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        pq, cq = q(p), q(c)
        d = (cq[1] - pq[1]) / pq[1]
        worse = d > m['bound'] if lower else -d > m['bound']
        g = lambda v: f"{v:.0f}" if abs(v) >= 100 else f"{v:.3g}"
        fmt = lambda t: f"{g(t[1])} [{g(t[0])}–{g(t[2])}]"
        print(f"| {name} ({m['unit']}) | {fmt(pq)} | {fmt(cq)} | {d:+.1%} | {won}/{len(pairs)} | {m['bound']}{' EXCEEDED' if worse else ''} |")
tr = [r for r in rows if r['trace'] == 1]
if tr:
    print("\n### traced (seed 1)")
    keys = ['sinks.files_per_batch','sinks.jobs_per_write','sinks.write_ms','streaming.jobs_per_batch','streaming.add_batch_ms','streaming.trigger_ms','sinks.store_files','sinks.bytes_per_batch','streaming.driver_gap_ms']
    print("| workload | metric | parent | change |\n|---|---|---|---|")
    for wl in ('backfill','steady_tail'):
        for k in keys:
            v = {r['side']: (r['result'] or {}).get('metrics', {}).get(k, {}).get('value') for r in tr if r['workload']==wl}
            print(f"| {wl} | {k} | {v.get('parent')} | {v.get('change')} |")
