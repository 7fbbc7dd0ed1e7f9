"""Self-tests of the benchmark's generator, oracle and store check.

    python3 -m unittest discover -s syncbench -p 'test_*.py'

They need only Python and pyarrow, not the program under test."""
import filecmp
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "tests")


def scratch(name):
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def all_files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def write_store(root, rows):
    """An indexed store as the sink lays it out: one parquet file per
    `index=` directory."""
    by_index = {}
    for mid, r in sorted(rows):
        by_index.setdefault(r["index"], []).append((mid, r))
    for index, part in by_index.items():
        write_part(os.path.join(root, f"index={index}", "part-0.parquet"), part)


def write_part(path, part):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "msg_id": pa.array([m for m, _ in part], pa.int64()),
        "app": [r["app"] for _, r in part],
        "is_debug": [r["is_debug"] for _, r in part],
        "field_count": pa.array([r["field_count"] for _, r in part], pa.int32()),
    }), path)


def part_path(root, index):
    return os.path.join(root, f"index={index}", "part-0.parquet")


def remove_from_part(root, index, mid):
    path = part_path(root, index)
    table = pq.read_table(path)
    pq.write_table(table.filter(pa.compute.not_equal(table["msg_id"], mid)), path)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for workload in run.WORKLOADS:
            a, b, c = (scratch(f"{workload}-{n}") for n in "abc")
            spec_a, _, _ = gen.generate(workload, 7, 5, a)
            spec_b, _, _ = gen.generate(workload, 7, 5, b)
            gen.generate(workload, 8, 5, c)
            self.assertEqual(spec_a, spec_b)
            files = all_files(a)
            self.assertEqual(files, all_files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), workload)
            self.assertEqual(files, all_files(c))
            _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            self.assertEqual(sorted(differ), files, f"{workload}: seeds 7 and 8 share a file")

    def test_program_receives_only_generated_files(self):
        work = scratch("inputs")
        spec, files, _ = gen.generate("backfill", 3, 5, work)
        generated = set(all_files(work))
        self.assertEqual(generated, set(files))
        self.assertTrue(set(spec["inputFiles"]) <= generated)
        cmd = run.harness_command(work, "classes", "jars")
        paths = [a for a in cmd if a.startswith("/") or "=" in a and "/" in a.split("=", 1)[1]]
        for arg in paths:
            path = arg.split("=", 1)[1] if arg.startswith("-D") else arg
            self.assertTrue(path.startswith(work), f"harness argument outside the run: {arg}")
        self.assertNotIn("testdata", " ".join(cmd))


class OracleTest(unittest.TestCase):
    cfg = {"rewriteRules": [["web-", "web"], ["orders.*", "orders"]],
           "globalFilters": ["DROPME"], "namespaceFilters": {"persistent://t/ns/audit": ["secret"]},
           "debugLogPatterns": ["TRACE-DUMP"], "rateLimits": {"hot": 2}}
    day = 1_767_225_600_000_000   # 2026-01-01T00:00:00Z

    def test_routing(self):
        rules = self.cfg["rewriteRules"]
        self.assertEqual(oracle.index_of("orders-eu-partition-3", self.day, rules), "orders-2026.01.01")
        self.assertEqual(oracle.index_of("persistent://t/ns/web-mobile", self.day, rules), "web-2026.01.01")
        self.assertEqual(oracle.index_of("ledger-partition-0", self.day, rules), "ledger-2026.01.01")

    def test_fates(self):
        msgs = [(1, "a", self.day, '{"app": "x", "level": "debug"}'),
                (2, "a", self.day, ""),
                (3, "a", self.day, "GET / 200"),
                (4, "a", self.day, "[1, 2]"),
                (5, "a", self.day, '{"app": "x", "m": "DROPME"}'),
                (6, "persistent://t/ns/audit", self.day, '{"m": "secret"}'),
                (7, "persistent://t/ns/audit", self.day, '{"m": "fine TRACE-DUMP", "bulk_reject": true}'),
                (8, "a", self.day, '{"app": 7, "k.v": 1, "n": {"app": "inner"}}')]
        rows, failed, totals = oracle.expected([msgs], self.cfg, '"bulk_reject": true')
        self.assertEqual(sorted(rows), [1, 8])
        self.assertEqual(rows[1], {"index": "a-2026.01.01", "app": "x", "is_debug": True, "field_count": 2})
        self.assertEqual(rows[8]["app"], "inner")
        self.assertEqual(failed, {7: "audit-2026.01.01"})
        self.assertEqual(totals[("audit-2026.01.01", oracle.DEFAULT_APP)], [0, 1])

    def test_rate_limit_admits_first_per_app_second(self):
        msgs = [(10 + k, "a", self.day + t, '{"app": "hot"}')
                for k, t in enumerate([500, 100, 100, 900_000, 1_000_001])]
        rows, _, _ = oracle.expected([msgs], self.cfg, None)
        # second 0 admits the two earliest (ties broken by msg_id); second 1 is fresh
        self.assertEqual(sorted(rows), [11, 12, 14])


class CheckTest(unittest.TestCase):
    def test_planted_defects_are_flagged(self):
        work = scratch("check-gen")
        spec, files, _ = gen.generate("backfill", 5, 1, work)
        batches = [files[n] for n in ["src/warmup.parquet"] + spec["inputFiles"]]
        rows, _, _ = oracle.expected(batches, spec["config"], spec["failedDocPattern"])
        good = scratch("store")
        write_store(good, rows.items())
        self.assertEqual(check.check_rows(check.read_store(good), rows), [])

        ids = sorted(rows)
        dropped, duplicated, misrouted = ids[3], ids[len(ids) // 2], ids[-4]
        other = next(r["index"] for r in rows.values() if r["index"] != rows[misrouted]["index"])

        store = scratch("store-dropped")
        shutil.copytree(good, store, dirs_exist_ok=True)
        remove_from_part(store, rows[dropped]["index"], dropped)
        failures = check.check_rows(check.read_store(store), rows)
        self.assertEqual(failures, [f"store: msg {dropped} missing"])

        store = scratch("store-duplicated")
        shutil.copytree(good, store, dirs_exist_ok=True)
        write_part(os.path.join(store, f"index={rows[duplicated]['index']}", "dup.parquet"),
                   [(duplicated, rows[duplicated])])
        failures = check.check_rows(check.read_store(store), rows)
        self.assertEqual(failures, [f"store: msg {duplicated} stored 2 times"])

        store = scratch("store-misrouted")
        shutil.copytree(good, store, dirs_exist_ok=True)
        remove_from_part(store, rows[misrouted]["index"], misrouted)
        write_part(os.path.join(store, f"index={other}", "moved.parquet"),
                   [(misrouted, rows[misrouted])])
        failures = check.check_rows(check.read_store(store), rows)
        self.assertEqual(len(failures), 1)
        self.assertIn(f"msg {misrouted} index={other!r}", failures[0])

    def test_wrong_totals_and_answers_are_flagged(self):
        totals = {("a-2026.01.01", "x"): [3, 1]}
        good = [{"index": "a-2026.01.01", "app": "x", "written": 2, "failed": 1},
                {"index": "a-2026.01.01", "app": "x", "written": 1, "failed": 0}]
        self.assertEqual(check.check_totals(good, totals), [])
        self.assertEqual(len(check.check_totals(good[:1], totals)), 1)
        rows = {1: {"index": "a", "app": "x", "is_debug": True, "field_count": 2}}
        params = [{"appCountIndex": "a", "debugIndex": "a", "lookupId": 1}]
        answer = {"phase": "store", "param": 0, "appCount": {"x": 1}, "debugIds": [1],
                  "lookup": ["a", "x", 2], "countByIndex": {"a": 1}}
        expect = lambda p: oracle.read_answers(rows, p)  # noqa: E731
        self.assertEqual(check.check_answers([answer], params, expect), [])
        wrong = dict(answer, countByIndex={"a": 2})
        self.assertEqual(len(check.check_answers([wrong], params, expect)), 1)


if __name__ == "__main__":
    unittest.main()
