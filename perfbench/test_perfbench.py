"""Self-tests of the benchmark harness (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
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
import run  # noqa: E402
from workloads import WORKLOADS, all_job_names  # noqa: E402

TMP_DIR = os.path.join(run.WORK, "selftest")


def record(job_times, errors=()):
    """A harness record with a cold pass and three warm passes."""
    def one(label, scale):
        return {"label": label, "seconds": sum(job_times.values()) * scale,
                "jobs": {n: ({"error": "boom"} if n in errors else {"s": t * scale})
                         for n, t in job_times.items()}}
    return {"cold": one("cold", 2.0), "warm": [one(f"warm{i}", 1.0 + i / 10) for i in range(3)],
            "peak_rss_mb": 900.0}


class Score(unittest.TestCase):
    times = {"q_a": 1.0, "q_b": 2.0}

    def test_clean_run_has_no_failures(self):
        m, attempted, failed = run.score(record(self.times), {"q_a": None, "q_b": None},
                                         [3.0, 2.0, 4.0], 10e6)
        self.assertEqual((attempted, failed), (8, 0))
        self.assertEqual(m["ok_frac"], 1.0)
        self.assertAlmostEqual(m["wall_s"], 3.3)
        self.assertEqual(m["setup_s"], 3.0)

    def test_job_that_throws_fails_and_never_reads_fast(self):
        clean, _, _ = run.score(record(self.times), {"q_a": None, "q_b": None}, [3.0], 10e6)
        m, attempted, failed = run.score(record(self.times, errors={"q_b"}),
                                         {"q_a": None, "q_b": "boom"}, [3.0], 10e6)
        self.assertEqual(failed, 4)
        self.assertLess(m["ok_frac"], 1.0)
        self.assertGreater(m["wall_s"], clean["wall_s"])
        self.assertGreater(m["cold_wall_s"], clean["cold_wall_s"])
        self.assertLess(m["throughput_mb_s"], clean["throughput_mb_s"])


class Steal(unittest.TestCase):
    def test_share_of_stolen_time(self):
        t0 = [100, 0, 10, 80, 0, 0, 0, 10, 0, 0]
        t1 = [150, 0, 20, 110, 0, 0, 0, 20, 0, 0]
        self.assertAlmostEqual(run.steal_share(t0, t1), 10 / 100)
        self.assertIsNone(run.steal_share(None, t1))


class OutputCheck(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP_DIR, ignore_errors=True)
        self.data = os.path.join(TMP_DIR, "data")
        for t in check.TABLES:
            os.makedirs(os.path.join(self.data, f"{t}.parquet"))
            pq.write_table(pa.table({"x": [1]}),
                           os.path.join(self.data, f"{t}.parquet", "part-00000.parquet"))
        self.out = os.path.join(TMP_DIR, "out")
        os.makedirs(os.path.join(self.out, "check", "q_a"))
        pq.write_table(pa.table({"y": ["b", "a"], "x": [2, 1]}),
                       os.path.join(self.out, "check", "q_a", "part-0.parquet"))

    def tearDown(self):
        shutil.rmtree(TMP_DIR, ignore_errors=True)

    def test_matching_output_passes_in_any_row_and_column_order(self):
        exp = check.expected(self.data, {"q_a": "SELECT 1 AS x, 'a' AS y UNION ALL "
                                                "SELECT 2, 'b'"}, ["q_a"])
        self.assertIsNone(check.check_outputs(self.data, self.out, ["q_a"], exp, [])["q_a"])

    def test_planted_wrong_expected_hash_raises_failed_frac(self):
        exp = check.expected(self.data, {"q_a": "SELECT 1 AS x, 'a' AS y"}, ["q_a"])
        exp["q_a"]["hash"] = "0" * 64
        status = check.check_outputs(self.data, self.out, ["q_a"], exp, [])
        self.assertIn("mismatch", status["q_a"])
        m, _, failed = run.score(record({"q_a": 1.0}), status, [3.0], 10e6)
        self.assertEqual(failed, 4)
        self.assertLess(m["ok_frac"], 1.0)
        self.assertEqual(m["wall_s"], run.NO_CLEAN_PASS_S)


class BenchmarkFile(unittest.TestCase):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)

    def test_metric_names(self):
        names = [m["name"] for m in self.doc["end_to_end"] + self.doc["per_layer"]]
        names += [w["name"] for w in self.doc["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        self.assertEqual(len(names), len(set(names)))

    def test_limits(self):
        d = self.doc
        self.assertTrue(2 <= len(d["workloads"]) <= 8)
        self.assertTrue(1 <= len(d["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(d["per_layer"]) <= 128)
        self.assertIsInstance(d["run_seconds"], int)
        self.assertTrue(1 <= d["run_seconds"] <= 60)
        bounds = {m["name"]: m["bound"] for m in d["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        for m in d["end_to_end"] + d["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_matches_the_harness(self):
        self.assertEqual([w["name"] for w in self.doc["workloads"]], list(WORKLOADS))
        self.assertEqual([m["name"] for m in self.doc["end_to_end"]],
                         [n for n, _ in run.END_TO_END])
        per_layer = {m["name"] for m in self.doc["per_layer"]}
        self.assertTrue({f"job.{j}_s" for j in all_job_names()} <= per_layer)


class Generator(unittest.TestCase):
    def test_same_seed_same_hashes_other_seed_differs(self):
        self.assertTrue(gen.selfcheck("curate_long", os.path.join(TMP_DIR, "gen")))


if __name__ == "__main__":
    unittest.main()
