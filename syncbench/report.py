#!/usr/bin/env python3
"""Build the traced-run artifact, syncbench/results/trace.json.

    python3 syncbench/report.py --seed 1 --seconds 10

For each workload it makes one run with tracing off and one with tracing
on, at the same seed, and records the per-layer metrics, each layer's self
time, the layer with the largest self time on the ingest path, the spans,
and the tracing overhead (traced end-to-end value minus untraced).  It adds
one untraced backfill run at local[1] as the single-threaded reference.
Run from the repository root; it runs the benchmark sequentially."""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload, seed, seconds, trace, cores=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} failed with {res.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload}: output incorrect ({result['failed']} failures)")
    return result, json.loads(lines[-2])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    args = p.parse_args()
    artifact = {"seed": args.seed, "seconds": args.seconds, "cpus": os.cpu_count(),
                "workloads": {}}
    for wl in run.WORKLOADS:
        plain, detail = bench(wl, args.seed, args.seconds, 0)
        bench(wl, args.seed, args.seconds, 1)
        with open(os.path.join(HERE, ".work", wl, "trace.json")) as f:
            traced = json.load(f)
        untraced = {k: v["value"] for k, v in plain["metrics"].items()}
        overhead = {k: {"traced": traced["end_to_end"][k], "untraced": v,
                        "difference": traced["end_to_end"][k] - v}
                    for k, v in untraced.items()}
        ingest_layers = {k: v for k, v in traced["self_ms"].items() if k != "idle_between_triggers"}
        artifact["workloads"][wl] = {
            "detail": detail,
            "end_to_end": untraced,
            "tracing_overhead": overhead,
            "per_layer": traced["layers"],
            "self_ms": traced["self_ms"],
            "read_self_ms": traced["read_self_ms"],
            "largest_self_time_on_ingest_path": max(ingest_layers, key=ingest_layers.get),
            "spans": traced["spans"],
        }
    single, detail = bench("backfill", args.seed, args.seconds, 0, cores=1)
    artifact["backfill_local1_reference"] = {
        "detail": detail, "end_to_end": {k: v["value"] for k, v in single["metrics"].items()}}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "trace.json"), "w") as f:
        json.dump(artifact, f, indent=1)


if __name__ == "__main__":
    main()
