"""Expected fate of every generated message, computed independently of the
program under test from the sync semantics (the Pulsar -> Elasticsearch
sync this project reproduces):

  drop empty / globally filtered / non-JSON-object / namespace-filtered
  messages; route the rest to `<rewritten collapsed topic>-<yyyy.MM.dd>`;
  derive `app`, `is_debug`, `field_count`; admit the first N messages per
  (app, publish second) in (publish_time, msg_id) order within one
  consumer batch; divert documents matching the failed-doc pattern.

Each input file is one consumer batch, and the generator gives every
backlog file its own publish seconds, so admission does not depend on how
the stream groups files.
"""
import datetime as dt
import json
import re

DEFAULT_APP = "__DEFAULT_APP__"
APP_RE = re.compile(r'"app"\s*:\s*"([^"]*)"')
PARTITION_RE = re.compile(r"^(.*)-partition-\d+")
OBJECT_RE = re.compile(r"^\s*\{")


def topic_part(topic):
    return topic.split("/")[-1] if "://" in topic else topic


def collapse(topic):
    m = PARTITION_RE.search(topic)
    return m.group(1) if m and m.group(1) else topic


def index_of(topic, publish_us, rules):
    base = collapse(topic_part(topic))
    for pat, target in rules:
        if re.search("^" + pat, base):
            base = target.replace(".*", "")
            break
    day = dt.datetime.fromtimestamp(publish_us / 1e6, dt.timezone.utc)
    return f"{base}-{day:%Y.%m.%d}"


def parse_object(data):
    if not OBJECT_RE.search(data):
        return None
    try:
        doc = json.loads(data)
    except ValueError:
        return None
    return doc if isinstance(doc, dict) else None


def kept(topic, data, cfg):
    """The parsed document if the message survives the filters, else None."""
    if not data or any(re.search(p, data) for p in cfg["globalFilters"]):
        return None
    doc = parse_object(data)
    if doc is None:
        return None
    for ns, pats in cfg["namespaceFilters"].items():
        if topic == ns and any(re.search(p, data) for p in pats):
            return None
    return doc


def expected(batches, cfg, failed_pattern):
    """Expected store content of a run.

    `batches` is a list of consumer batches, each a list of
    (msg_id, topic, publish_us, data).  Returns (rows, failed, totals):
    rows maps msg_id -> {index, app, is_debug, field_count} for every
    document that must be in the store, failed maps msg_id -> index for
    the diverted ones, totals maps (index, app) -> [written, failed]."""
    rows, failed, totals = {}, {}, {}
    limits = cfg["rateLimits"]
    for batch in batches:
        candidates = []
        for mid, topic, t_us, data in batch:
            doc = kept(topic, data, cfg)
            if doc is None:
                continue
            m = APP_RE.search(data)
            app = m.group(1) if m and m.group(1) else DEFAULT_APP
            candidates.append((t_us, mid, {
                "index": index_of(topic, t_us, cfg["rewriteRules"]),
                "app": app,
                "is_debug": doc.get("level") == "debug"
                or any(re.search(p, data) for p in cfg["debugLogPatterns"]),
                "field_count": len(doc),
            }, data))
        seen = {}
        for t_us, mid, row, data in sorted(candidates, key=lambda c: (c[0], c[1])):
            if row["app"] in limits:
                key = (row["app"], t_us // 1_000_000)
                seen[key] = seen.get(key, 0) + 1
                if seen[key] > limits[row["app"]]:
                    continue
            tot = totals.setdefault((row["index"], row["app"]), [0, 0])
            if failed_pattern and re.search(failed_pattern, data):
                failed[mid] = row["index"]
                tot[1] += 1
            else:
                rows[mid] = row
                tot[0] += 1
    return rows, failed, totals


def read_answers(rows, params):
    """Expected answers of the read mix for one parameter set."""
    app_counts, debug_ids, by_index = {}, [], {}
    for mid, r in rows.items():
        by_index[r["index"]] = by_index.get(r["index"], 0) + 1
        if r["index"] == params["appCountIndex"]:
            app_counts[r["app"]] = app_counts.get(r["app"], 0) + 1
        if r["index"] == params["debugIndex"] and r["is_debug"]:
            debug_ids.append(mid)
    hit = rows[params["lookupId"]]
    return {"appCount": app_counts, "debugIds": sorted(debug_ids),
            "lookup": [hit["index"], hit["app"], hit["field_count"]],
            "countByIndex": by_index}
