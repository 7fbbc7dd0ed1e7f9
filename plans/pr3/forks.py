"""Count the processes a sync benchmark run forked, by command and path class.

    python3 plans/pr3/forks.py run.jfr [more.jfr ...]

Reads the `jdk.ProcessStart` events of a JFR recording of the harness JVM
(through the JDK's `jfr` tool) and classifies each command by the path it
names:

  checkpoint  <query>/sink/_checkpoint...    (Spark's offset and commit logs)
  sink        <query>/sink/...               (staged write, moves, marker)
  metrics     <query>/metrics/...            (the bid=<id> metrics store)
  compaction  <store>._compacting, ._precompact
  other       anything else (Spark and JVM start-up)

<query> is the run's work directory for the measured query, or setup<k> for
the throwaway queries the harness starts first. The batch count of a query
is the number of distinct batch ids its paths name, so "per batch" divides
by the batches that left a trace.

Record the file by starting the harness JVM with
-XX:StartFlightRecording=filename=<out>.jfr,settings=default (the default
settings enable jdk.ProcessStart); see the verify notes for the recipe.
"""
import collections
import json
import re
import subprocess
import sys

BATCH = re.compile(r"/(?:_staging/b|bid=|_commits/\.?(?:tmp-)?|_checkpoint/(?:commits|offsets)/\.*)(\d+)(?:[/.]|$)")
QUERY = re.compile(r"/\.work/[^/]+/(setup\d+/)?")


def events(path):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return [e["values"]["command"] for e in json.loads(out)["recording"]["events"]]


def classify(command):
    """(query, class, batch id or None) of one forked command line."""
    arg = command.split()[-1].removeprefix("file:")
    if "._compacting" in arg or "._precompact" in arg:
        kind = "compaction"
    elif "/sink/_checkpoint" in arg or arg.endswith("/sink"):
        # the store root itself is made at query start, as the
        # checkpoint's parent
        kind = "checkpoint"
    elif "/sink/" in arg:
        kind = "sink"
    elif "/metrics/" in arg:
        kind = "metrics"
    else:
        return "-", "other", None
    q = QUERY.search(arg)
    query = (q.group(1) or "measured").rstrip("/") if q else "-"
    b = BATCH.search(arg)
    return query, kind, int(b.group(1)) if b else None


def main(paths):
    for path in paths:
        counts = collections.Counter()
        batches = collections.defaultdict(set)
        for command in events(path):
            query, kind, batch = classify(command)
            counts[(query, kind, command.split()[0])] += 1
            if batch is not None:
                batches[query].add(batch)
        print(f"## {path}")
        print("| query | class | command | forks | batches | per batch |")
        print("|---|---|---|---|---|---|")
        for (query, kind, cmd), n in sorted(counts.items()):
            nb = len(batches.get(query, ()))
            per = f"{n / nb:.1f}" if nb and kind != "compaction" else ""
            print(f"| {query} | {kind} | {cmd} | {n} | {nb or ''} | {per} |")


if __name__ == "__main__":
    main(sys.argv[1:])
