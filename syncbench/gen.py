"""Seeded input generator for the sync benchmark.

Everything a run feeds the program comes from here: message files, the
sync configuration and the read mix.  The same seed gives byte-identical
files; the program receives only the files this module writes.
"""
import datetime as dt
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("msg_id", pa.int64()),
    ("topic", pa.string()),
    ("publish_time", pa.timestamp("us", tz="UTC")),
    ("data", pa.string()),
])

# About 45 topics mixing the three naming shapes the sync must route:
# plain names, `-partition-N` names that collapse to one index, and
# Pulsar URIs whose tenant/namespace prefix must not reach the index.
PLAIN = ["orders", "payments", "auth", "search", "cart", "checkout",
         "inventory", "shipping", "billing", "profile", "web-frontend",
         "web-admin", "api-v1", "api-v2", "sessions", "geo", "fraud",
         "email", "sms"]
PARTITIONED = ([f"ledger-partition-{i}" for i in range(4)]
               + [f"notify-partition-{i}" for i in range(3)]
               + [f"clicks-partition-{i}" for i in range(5)]
               + [f"orders-eu-partition-{i}" for i in range(2)])
URI = ["persistent://acme/prod/audit", "persistent://acme/prod/metrics",
       "persistent://acme/prod/recs-partition-0",
       "persistent://acme/prod/recs-partition-1",
       "persistent://acme/stage/media", "persistent://acme/stage/chat",
       "persistent://acme/stage/web-mobile",
       "non-persistent://acme/dev/ingest", "persistent://beta/ops/cdn",
       "persistent://beta/ops/gateway",
       "persistent://beta/ops/dns-partition-0",
       "persistent://beta/ops/dns-partition-1"]
TOPICS = PLAIN + PARTITIONED + URI
APPS = [f"app-{i:02d}" for i in range(50)]
HOT_APP_LIMITS = [120, 60, 40, 30, 25, 20, 16, 14, 12, 10]

REWRITE_RULES = [["web-", "web"], ["api-v[0-9]+", "api"], ["orders.*", "orders"]]
DEBUG_PATTERNS = ["TRACE-DUMP"]
GLOBAL_FILTERS = ['"http.path": "/healthz"']
NAMESPACE_FILTERS = {"persistent://acme/prod/audit": ['"level": "trace"']}
FAILED_DOC_PATTERN = '"bulk_reject": true'

WORDS = ("request served upstream cache miss retry timeout user session "
         "token refresh queue depth shard rebalance payload accepted "
         "rejected latency budget exceeded worker pool idle flush "
         "commit offset lag broker partition leader replica").split()
LEVELS = ["info"] * 70 + ["warn"] * 12 + ["error"] * 8 + ["debug"] * 6 + ["trace"] * 4
COUNTRIES = ["DE", "US", "FR", "BR", "IN", "JP", "NG", "CA"]
METHODS = ["GET", "POST", "PUT", "DELETE"]
STATUSES = [200] * 8 + [201, 204, 301, 404, 500, 503]

# Workload shapes.  `seconds` scales the measured work of each run.
SETUP_QUERIES = 3          # set-up is measured this many times per run
SETUP_MSGS = 200
STEADY_FLUSH_MS = 5000     # the sync's default flush interval (trigger)
STEADY_PERIOD_MS = 100     # open loop: one file due every 100 ms ...
STEADY_FILE_MSGS = 100     # ... of 100 messages (1,000 msgs/s)
BACKFILL_FILES = 3
BACKFILL_MSGS_PER_SECOND = 3000   # backlog = seconds * this, in 3 files
BACKFILL_PUBLISH_RATE = 1000      # msgs per publish second: hot apps hit their limits
READ_PARAM_SETS = 4
COMPACT_TARGET_BYTES = 8 << 20
LATENCY_LIMIT_MS = 20000   # a steady_tail file committed later has failed


def zipf_weights(n, s):
    return [1.0 / (i + 1) ** s for i in range(n)]


def cumulative(ws):
    out, acc = [], 0.0
    for w in ws:
        acc += w
        out.append(acc)
    return out


class MessageFactory:
    """Realistic ~400 B JSON log lines with dotted and nested keys."""

    def __init__(self, rng):
        self.rng = rng
        self.next_id = 1
        order = TOPICS[:]
        rng.shuffle(order)
        self.topics = order
        self.topic_cw = cumulative(zipf_weights(len(order), 0.9))
        self.app_cw = cumulative(zipf_weights(len(APPS), 1.1))

    def data(self, publish_us):
        r = self.rng
        rnd = r.random
        roll = rnd()
        if roll < 0.004:
            return ""
        if roll < 0.008:
            return f"GET /{r.choice(WORDS)} 200 {1 + int(rnd() * 90)}ms"
        if roll < 0.010:
            return json.dumps([int(rnd() * 10) for _ in range(3)])
        doc = {"time_ms": publish_us // 1000 + int(rnd() * 1001) - 500}
        if rnd() < 0.3:
            doc["time_ms"] += int(rnd() * 1000) / 1000.0
        doc["level"] = r.choice(LEVELS)
        app_roll = rnd()
        if app_roll < 0.02:
            pass
        elif app_roll < 0.03:
            doc["app"] = int(rnd() * 10)
        else:
            doc["app"] = r.choices(APPS, cum_weights=self.app_cw)[0]
        words = " ".join(r.choices(WORDS, k=8 + int(rnd() * 15)))
        if rnd() < 0.01:
            words = "TRACE-DUMP " + words
        doc["msg"] = words
        doc["http.method"] = r.choice(METHODS)
        doc["http.path"] = ("/healthz" if rnd() < 0.03 else
                            f"/api/v{1 + int(rnd() * 3)}/{r.choice(WORDS)}/{1 + int(rnd() * 9999)}")
        doc["http.status"] = r.choice(STATUSES)
        doc["user"] = {"id": 1 + int(rnd() * 10 ** 6),
                       "geo": {"country": r.choice(COUNTRIES),
                               "zone": 1 + int(rnd() * 40)}}
        doc["trace.id"] = "%016x" % r.getrandbits(64)
        doc["latency_ms"] = round(rnd() * 250, 3)
        if rnd() < 0.5:
            doc["tags"] = r.choices(WORDS, k=1 + int(rnd() * 4))
        if rnd() < 0.2:
            doc["retry"] = 1 + int(rnd() * 5)
        if rnd() < 0.01:
            doc["bulk_reject"] = True
        return json.dumps(doc)

    def batch(self, n, t0_us, span_us):
        """n messages with publish times in [t0, t0 + span), in time order."""
        r = self.rng
        times = sorted(t0_us + r.randrange(span_us) for _ in range(n))
        topics = r.choices(self.topics, cum_weights=self.topic_cw, k=n)
        out = [(self.next_id + k, topic, t, self.data(t))
               for k, (topic, t) in enumerate(zip(topics, times))]
        self.next_id += n
        return out


def write_messages(path, msgs):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*msgs)) if msgs else [[], [], [], []]
    table = pa.Table.from_arrays([pa.array(c, type=f.type)
                                  for c, f in zip(cols, SCHEMA)], schema=SCHEMA)
    pq.write_table(table, path)


def day_start_us(rng):
    day = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=rng.randrange(300))
    return int(day.timestamp()) * 1_000_000


def sync_config(workload):
    base = {"rewriteRules": REWRITE_RULES, "globalFilters": [],
            "namespaceFilters": {}, "timeKey": None, "debugLogPatterns": [],
            "rateLimits": {}, "rateLimitWindow": "second",
            "flushIntervalMs": 1000}
    if workload == "steady_tail":
        base["flushIntervalMs"] = STEADY_FLUSH_MS
    if workload == "backfill":
        base.update(globalFilters=GLOBAL_FILTERS,
                    namespaceFilters=NAMESPACE_FILTERS, timeKey="time_ms",
                    debugLogPatterns=DEBUG_PATTERNS,
                    rateLimits=dict(zip(APPS, HOT_APP_LIMITS)))
    return base


def generate(workload, seed, seconds, out_dir):
    """Write every input file of one run under `out_dir` and return
    (spec, files, rng): `files` maps each file's path under `out_dir` to its
    messages, and `rng` continues the seeded stream for the read mix.

    Layout: setup<k>/src/warmup.parquet for the throwaway set-up queries,
    src/warmup.parquet for the measured query's first batch, and the
    measured messages in input/ (moved into src/ on schedule by the open
    loop) or in src/ (the backlog)."""
    rng = random.Random(f"syncbench:{workload}:{seed}")
    mf = MessageFactory(rng)
    day0 = day_start_us(rng)
    files = {}
    spec = {"workload": workload, "seed": seed, "seconds": seconds,
            "config": sync_config(workload), "failedDocPattern": None,
            "batchFiles": 1, "compactTargetBytes": COMPACT_TARGET_BYTES,
            "setupDirs": [], "inputFiles": []}

    def add(name, msgs):
        files[name] = msgs
        write_messages(os.path.join(out_dir, name), msgs)

    # set-up queries: SETUP_QUERIES - 1 on throwaway stores, and the
    # measured query's own first batch, a warm-up file older than the rest
    # so that the file source consumes it first
    for k in range(SETUP_QUERIES - 1):
        add(f"setup{k}/src/warmup.parquet", mf.batch(SETUP_MSGS, day0, 3_600_000_000))
        spec["setupDirs"].append(f"setup{k}")
    add("src/warmup.parquet", mf.batch(SETUP_MSGS, day0, 3_600_000_000))
    stamp = time.time() - 600
    os.utime(os.path.join(out_dir, "src/warmup.parquet"), (stamp, stamp))

    start = day0 + 2 * 3_600_000_000   # disjoint from the warm-up's publish hour
    if workload == "steady_tail":
        # whole flush intervals, so every run sees the same flushes
        n = max(1, seconds * 1000 // STEADY_FLUSH_MS) * STEADY_FLUSH_MS // STEADY_PERIOD_MS
        for i in range(n):
            t = start + i * STEADY_PERIOD_MS * 1000
            add(f"input/f{i:05d}.parquet", mf.batch(STEADY_FILE_MSGS, t, STEADY_PERIOD_MS * 1000))
        spec.update(periodMs=STEADY_PERIOD_MS, batchFiles=None,
                    latencyLimitMs=LATENCY_LIMIT_MS)
    elif workload == "backfill":
        per_file = seconds * BACKFILL_MSGS_PER_SECOND // BACKFILL_FILES
        # whole publish seconds per file, so no rate-limit window spans two batches
        span = -(-per_file // BACKFILL_PUBLISH_RATE) * 1_000_000
        for i in range(BACKFILL_FILES):
            name = f"src/f{i:05d}.parquet"
            add(name, mf.batch(per_file, start + i * span, span))
            os.utime(os.path.join(out_dir, name), (stamp + 10 + i, stamp + 10 + i))
        spec["failedDocPattern"] = FAILED_DOC_PATTERN
    else:
        raise ValueError(f"unknown workload {workload}")
    spec["inputFiles"] = sorted(n for n in files if not n.startswith("setup")
                                and not n.endswith("warmup.parquet"))
    return spec, files, rng


def read_mix(rows, rng):
    """Parameters of the fixed read mix, drawn from the expected store.

    `rows` maps msg_id -> expected stored row (see oracle.expected)."""
    by_index = {}
    for mid, row in rows.items():
        by_index.setdefault(row["index"], []).append(mid)
    indices = sorted(by_index)
    weights = [len(by_index[i]) for i in indices]
    debug_indices = sorted({r["index"] for r in rows.values() if r["is_debug"]}) or indices
    ids = sorted(rows)
    return [{"appCountIndex": rng.choices(indices, weights)[0],
             "debugIndex": rng.choice(debug_indices),
             "lookupId": rng.choice(ids)}
            for _ in range(READ_PARAM_SETS)]
