#!/usr/bin/env python3
"""Benchmark of the streaming sync (StreamingSync.start), one workload per run.

    python3 syncbench/run.py --workload steady_tail --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run compiles the repository's main
sources plus syncbench/src with the Scala compiler shipped in Spark's jars
(cached by source hash under syncbench/.build), generates the workload's
inputs from the seed, runs them through a fresh JVM at local[<cores>],
checks every stored row, bulk-metrics total and read answer against the
oracle, and prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1.  Everything it writes stays under
syncbench/.build and syncbench/.work.  See LAYERS.md for the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("steady_tail", "backfill")
READ_PASSES = 3            # passes of the read mix before and after compaction
GENERATOR_LATE_LIMIT_MS = 1000
HARNESS_LIMIT_S = 160      # after the (cached) build; a run must end within 180 s
JVM_HEAP = "2g"
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[syncbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return jars


def build(repo, jars):
    """Compile the program's main sources and the harness; return the
    class directory.  Reused while no source file changes."""
    program = sorted(glob.glob(os.path.join(repo, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise BenchError("no src/main/scala under the working directory: "
                         "run from the repository root")
    sources = program + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, repo).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    shutil.rmtree(os.path.join(HERE, ".build"), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, p))[0] for p in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    res = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
                          "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*")] + sources,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-5000:])
        raise BenchError("compilation failed")
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def benchmark_metrics(repo, kind):
    """The metrics BENCHMARK.json declares, so names and units live in one place."""
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def pct(xs, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def open_loop(work, files, stop):
    """The steady_tail generator, a process apart from the program under
    test: once the harness publishes the schedule (go.json), move each
    pre-generated file into the source directory when it is due, whatever
    the program is doing, and report when each move happened."""
    go = os.path.join(work, "go.json")
    while not os.path.exists(go):
        if stop.wait(0.01):
            return
    with open(go) as f:
        sched = json.load(f)
    moved = []
    for i, name in enumerate(files):
        wait = (sched["t0"] + i * sched["periodMs"]) / 1000.0 - time.time()
        if wait > 0 and stop.wait(wait):
            return
        base = os.path.basename(name)
        os.rename(os.path.join(work, "input", base), os.path.join(work, "src", base))
        moved.append(int(time.time() * 1000))
    tmp = os.path.join(work, ".moves.json.tmp")
    with open(tmp, "w") as f:
        json.dump(moved, f)
    os.rename(tmp, os.path.join(work, "moves.json"))


def harness_command(work, classes, jars):
    """The JVM command of one run: every path it names is under `work`,
    apart from the compiled classes and Spark's jars."""
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             f"-Dderby.system.home={os.path.join(work, 'derby')}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "syncbench.Harness",
               os.path.join(work, "spec.json"), os.path.join(work, "out.json")])


def launch(work, spec, classes, jars, deadline):
    out_path = os.path.join(work, "out.json")
    spec["launchMs"] = int(time.time() * 1000)
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
    cmd = harness_command(work, classes, jars)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    stop = threading.Event()
    generator = threading.Thread(target=open_loop, args=(work, spec["inputFiles"], stop))
    if spec["workload"] == "steady_tail":
        generator.start()
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("harness timed out")
        finally:
            stop.set()
            if generator.is_alive():
                generator.join()
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"harness exited with {rc}")
    with open(out_path) as f:
        return json.load(f)


def consumer_batches(files, spec):
    """Consumer batches as the oracle sees them: each file is one batch
    (the steady_tail stream may merge files, which the oracle's admission
    ignores because that workload has no rate limits)."""
    names = ["src/warmup.parquet"] + spec["inputFiles"]
    return [[(m[0], m[1], m[2], m[3]) for m in files[n]] for n in names]


def run(args):
    repo = os.getcwd()
    jars = spark_jars()
    classes = build(repo, jars)
    deadline = time.time() + HARNESS_LIMIT_S

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec, files, rng = gen.generate(args.workload, args.seed, args.seconds, work)
    cfg = spec["config"]
    rows, failed_rows, totals = oracle.expected(
        consumer_batches(files, spec), cfg, spec["failedDocPattern"])
    spec.update(cores=args.cores, trace=bool(args.trace), readPasses=READ_PASSES,
                readParams=gen.read_mix(rows, rng))
    out = launch(work, spec, classes, jars, deadline)

    # correctness
    failures = check.check_rows(check.read_store(os.path.join(work, "sink")), rows)
    failures += check.check_rows(
        check.read_store(os.path.join(work, "sink", "_failed"), columns=("msg_id",)),
        {m: {"index": i} for m, i in failed_rows.items()}, "failed-docs")
    failures += check.check_totals(check.read_metrics(os.path.join(work, "metrics")), totals)
    failures += check.check_answers(out["answers"], spec["readParams"],
                                    lambda p: oracle.read_answers(rows, p))

    ing = out["ingest"]
    msgs_per_file = [len(files[n]) for n in spec["inputFiles"]]
    latencies, late_msgs = [], 0
    for f, n in zip(ing["files"], msgs_per_file):
        lat = f.get("commit", float("inf")) - f["due"]
        latencies.append(lat)
        if args.workload == "steady_tail" and lat > spec["latencyLimitMs"]:
            late_msgs += n
    if late_msgs:
        failures.append(f"{late_msgs} messages committed later than {spec['latencyLimitMs']} ms")
    detail = {"workload": args.workload, "seed": args.seed, "cores": args.cores,
              "latency_samples": len(latencies),
              "read_samples": len(out["reads"]["store"]),
              "stored_rows": len(rows), "failed_docs": len(failed_rows)}
    if args.workload == "steady_tail":
        late = max(f["moved"] - f["due"] for f in ing["files"])
        schedule_end = max(f["moved"] for f in ing["files"])
        backlog = sum(1 for f in ing["files"] if f.get("commit", float("inf")) > schedule_end)
        detail.update(generator_late_max_ms=late, backlog_end_files=backlog)
        if late > GENERATOR_LATE_LIMIT_MS:
            print(json.dumps(detail))
            raise BenchError(f"invalid run: the generator fell {late} ms behind its "
                             "schedule, so latencies are not measurements")
    for msg in failures[:20]:
        log(f"FAIL {msg}")

    setup = out["setup"]
    offered = sum(msgs_per_file)
    finite = [x for x in latencies if x != float("inf")] or [0]
    e2e = {
        "setup_s": (setup["session_ms"] + statistics.median(setup["query_ms"])) / 1000.0,
        "ingest_msgs_per_s": offered * 1000.0 / max(1, ing["end"] - ing["start"]),
        "commit_latency_p50_ms": pct(finite, 50),
        "commit_latency_p90_ms": pct(finite, 90),
        "read_p50_ms": pct(out["reads"]["store"], 50),
        "read_compacted_p50_ms": pct(out["reads"]["compacted"], 50),
        "store_bytes_per_msg": out["store_bytes"] / max(1, len(rows)),
        "rss_peak_mb": out["rss_peak_mb"],
    }
    declared = benchmark_metrics(repo, "per_layer" if args.trace else "end_to_end")
    values = out["layers"] if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    if args.trace:
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"detail": detail, "end_to_end": e2e, "layers": out["layers"],
                       "self_ms": out["self_ms"], "read_self_ms": out["read_self_ms"],
                       "spans": out["spans"]}, f)
    attempted = offered + 4 * len(out["answers"])
    print(json.dumps(detail))
    return {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=os.cpu_count(),
                   help="Spark local[N] (default: all cores)")
    args = p.parse_args()
    try:
        result = run(args)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
