"""Compare what a run stored and answered against the oracle.

Each function returns a list of failure strings; an empty list means the
run's output is correct.  Stores are read with pyarrow, never with the
program under test."""
import os

import pyarrow.dataset as ds

ROW_FIELDS = ("index", "app", "is_debug", "field_count")


def read_store(path, columns=("msg_id", "app", "is_debug", "field_count")):
    """msg_id -> list of stored rows (a list, so duplicates stay visible).

    Underscore- and dot-prefixed entries (commit markers, checkpoint,
    staging, failed-doc log) are not part of the store."""
    if not os.path.isdir(path):
        return {}
    data = ds.dataset(path, format="parquet", partitioning="hive",
                      ignore_prefixes=["_", "."])
    table = data.to_table(columns=list(columns) + ["index"])
    out = {}
    for rec in table.to_pylist():
        out.setdefault(rec["msg_id"], []).append(rec)
    return out


def check_rows(stored, rows, what="store"):
    """Every expected row present exactly once with the expected values,
    and nothing else."""
    failures = []
    for mid, exp in rows.items():
        got = stored.get(mid, [])
        if not got:
            failures.append(f"{what}: msg {mid} missing")
            continue
        if len(got) > 1:
            failures.append(f"{what}: msg {mid} stored {len(got)} times")
        for field in ROW_FIELDS:
            if field in exp and str(got[0][field]) != str(exp[field]):
                failures.append(f"{what}: msg {mid} {field}={got[0][field]!r}, "
                                f"expected {exp[field]!r}")
    for mid in stored.keys() - rows.keys():
        failures.append(f"{what}: msg {mid} should not be stored")
    return failures


def check_totals(metric_rows, totals):
    """Per-(index, app) written/failed sums of the bulk metrics store."""
    got = {}
    for r in metric_rows:
        acc = got.setdefault((r["index"], r["app"]), [0, 0])
        acc[0] += r["written"]
        acc[1] += r.get("failed") or 0
    failures = []
    for key in sorted(got.keys() | totals.keys()):
        if got.get(key, [0, 0]) != totals.get(key, [0, 0]):
            failures.append(f"metrics: {key} written/failed={got.get(key)}, "
                            f"expected {totals.get(key)}")
    return failures


def read_metrics(path):
    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()


def check_answers(answers, params, expect):
    """`answers` is the harness's list of read-mix passes; each names the
    parameter set it used.  `expect(params)` gives the oracle's answer."""
    failures = []
    cache = {}
    for i, a in enumerate(answers):
        k = a["param"]
        if k not in cache:
            cache[k] = expect(params[k])
        want = cache[k]
        got = {"appCount": a["appCount"], "debugIds": sorted(a["debugIds"]),
               "lookup": a["lookup"], "countByIndex": a["countByIndex"]}
        for q in want:
            if got[q] != want[q]:
                failures.append(f"read pass {i} ({a['phase']}): {q} wrong")
    return failures
