#!/usr/bin/env python3
"""Per-workload tables of a sync_pairs.sh JSONL: each end-to-end metric's
per-pair values, both medians and change/parent; then the runs that were
not correct or had failed operations.

    python3 plans/pr15/sync_table.py <runs.jsonl>
"""
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
ok = lambda r: bool(r["result"]) and "metrics" in r["result"]
metrics = [m["name"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]]
for w in dict.fromkeys(r["workload"] for r in runs):
    print(f"{w}:\n")
    print("| metric | parent, pairs in order | change, pairs in order | parent median | change median | change/parent |")
    print("|---|---|---|---|---|---|")
    for m in metrics:
        v = {s: [r["result"]["metrics"][m]["value"] for r in sorted(runs, key=lambda r: r["pair"])
                 if r["workload"] == w and r["side"] == s and ok(r)]
             for s in ("parent", "change")}
        if not v["parent"] or not v["change"]:
            continue
        mp, mc = statistics.median(v["parent"]), statistics.median(v["change"])
        fmt = lambda xs: ", ".join(f"{x:.1f}" if x >= 100 else f"{x:.2f}" for x in xs)
        rel = (mc - mp) / mp * 100 if mp else 0.0
        print(f"| `{m}` | {fmt(v['parent'])} | {fmt(v['change'])} | {fmt([mp])} | {fmt([mc])} | {rel:+.1f}% |")
    print()
bad = [r for r in runs if not ok(r) or not r["result"]["correct"] or r["result"]["failed"]]
print(f"runs: {len(runs)}, not correct or with failed operations: {len(bad)}")
for r in bad:
    print("  ", r["side"], r["workload"], "pair", r["pair"], r["result"])
