"""The benchmark's own tests: seeded inputs, the output checks, and the
metric names it prints. They need Python and DuckDB only (no JVM).

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {"diff_tall": {"rows": 4000}, "ingest_neardup": {"docs": 300}}


class SeededInputs(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def fingerprint(self, workload, seed, cache):
        _, meta, _ = gen.prepare(workload, seed, os.path.join(self.tmp, cache), force=True,
                                 **SMALL[workload])
        return meta["fingerprint"]

    def test_same_seed_same_fingerprint_other_seed_different(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a = self.fingerprint(w, 7, "a")
                self.assertEqual(a, self.fingerprint(w, 7, "b"))
                self.assertNotEqual(a, self.fingerprint(w, 8, "c"))

    def test_cached_inputs_verify_against_their_fingerprint(self):
        data, meta, generated = gen.prepare("ingest_neardup", 3, self.tmp, **SMALL["ingest_neardup"])
        self.assertTrue(generated)
        data2, meta2, generated2 = gen.prepare("ingest_neardup", 3, self.tmp)
        self.assertFalse(generated2)
        self.assertEqual(gen.fingerprint_of(data2), meta["fingerprint"])


class DiffCheck(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        con = duckdb.connect()
        con.execute("""CREATE TABLE d AS SELECT * FROM (VALUES
            (NULL, 1, 0, 0), (NULL, 2, 1, 0), (4, 3, 2, 2), (5, 4, 3, 3), (NULL, 5, 0, 2))
            t(_row_status, K_k1, c1, c2)""")
        self.expected = checks.diff_profile(con, "d")
        self.con = con

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def op(self, sql):
        out = os.path.join(self.tmp, "op")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, os.path.join(out, "part-0.parquet")))
        return {"id": 0, "output": out, "summary": dict(self.expected["summary"])}

    def test_matching_output_passes(self):
        self.assertEqual(checks.check_diff_op(self.op("SELECT * FROM d"), self.expected), [])

    def test_one_flipped_status_fails(self):
        flipped = "SELECT _row_status, K_k1, CASE WHEN K_k1 = 1 THEN 1 ELSE c1 END AS c1, c2 FROM d"
        problems = checks.check_diff_op(self.op(flipped), self.expected)
        self.assertTrue(any("c1" in p for p in problems), problems)

    def test_summary_mismatch_fails(self):
        op = self.op("SELECT * FROM d")
        op["summary"]["rows_with_cell_diffs"] += 1
        self.assertTrue(checks.check_diff_op(op, self.expected))

    def test_failed_op_fails(self):
        self.assertTrue(checks.check_diff_op({"id": 0, "error": "boom"}, self.expected))


class IngestCheck(unittest.TestCase):
    weights = {1: ("s0", 10), 2: ("s0", 10), 3: ("s1", 10), 1000001: ("s0", 10)}
    budgets = {"s0": 25, "s1": 25}

    @staticmethod
    def rows(*spec):
        return [{"shard": s, "seq": q, "doc_id": d, "source": src} for s, q, d, src in spec]

    def check(self, *batches):
        return checks.check_ingest_lifecycle(list(batches), self.weights, self.budgets)

    def test_valid_lifecycle_passes(self):
        self.assertEqual(self.check(self.rows((0, 1, 1, "s0"), (1, 1, 2, "s0")),
                                    self.rows((0, 2, 3, "s1"))), [[], []])

    def test_duplicated_shipped_doc_fails(self):
        found = self.check(self.rows((0, 1, 1, "s0")), self.rows((0, 2, 1, "s0")))
        self.assertEqual(found[0], [])
        self.assertTrue(any("twice" in p for p in found[1]), found)

    def test_both_exact_copies_shipped_fails(self):
        found = self.check(self.rows((0, 1, 1, "s0")), self.rows((0, 2, 1000001, "s0")))
        self.assertTrue(any("exact-copy" in p for p in found[1]), found)

    def test_seq_gap_fails(self):
        found = self.check(self.rows((0, 1, 1, "s0")), self.rows((0, 3, 3, "s1")))
        self.assertTrue(any("seq" in p for p in found[1]), found)

    def test_over_budget_and_empty_batch_fail(self):
        found = self.check(self.rows((0, 1, 1, "s0"), (0, 2, 2, "s0"), (0, 3, 1000001, "s0")), [])
        self.assertTrue(any("budget" in p for p in found[0]), found)
        self.assertTrue(any("nothing" in p for p in found[1]), found)


class MetricNames(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.report = {
            "setup_rounds_s": [3.0, 1.0], "retained_heap_mb": 50.0,
            "ops": [{"input_rows": 10, "latency_s": 1.0, "cpu_s": 2.0}] * 2,
            "layers": {m["name"]: 1.0 for m in self.spec["per_layer"]}}

    def test_printed_names_and_units_match_benchmark_json(self):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            printed = run.result_line(self.report, 0.1, [[], []], trace)["metrics"]
            self.assertEqual([(k, v["unit"]) for k, v in printed.items()],
                             [(m["name"], m["unit"]) for m in self.spec[section]])

    def test_a_metric_the_report_lacks_fails(self):
        del self.report["layers"]["Dedup.compactions"]
        with self.assertRaises(KeyError):
            run.result_line(self.report, 0.1, [[], []], 1)


if __name__ == "__main__":
    unittest.main()
