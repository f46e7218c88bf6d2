"""Tests of the benchmark's statistics and its output line.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import unittest
from unittest import mock

import run
from stats import highest_percentile, percentile, result_line, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(highest_percentile(19))
        self.assertEqual(highest_percentile(20), 50)
        self.assertEqual(highest_percentile(99), 50)
        self.assertEqual(highest_percentile(100), 90)
        self.assertEqual(highest_percentile(999), 90)
        self.assertEqual(highest_percentile(1000), 99)
        self.assertEqual(highest_percentile(10000), 99.9)

    def test_summary_carries_count_and_supported_percentile(self):
        self.assertEqual(summarize([3.0, 1.0, 2.0]), {"n": 3, "median": 2.0})
        s = summarize([float(i) for i in range(1, 101)])
        self.assertEqual((s["n"], s["median"], s["p90"]), (100, 50.5, 90.0))
        self.assertNotIn("p99", s)
        self.assertEqual(summarize([]), {"n": 0})

    def test_nearest_rank(self):
        self.assertEqual(percentile([5.0], 90), 5.0)
        self.assertEqual(percentile(list(range(10)), 50), 4)


class ResultLine(unittest.TestCase):
    def line(self, metrics, units):
        return result_line(True, 30, 0, metrics, units)

    def test_parses_as_the_last_line_of_a_log(self):
        metrics = {k: 1.2345678901 for k in run.END_TO_END}
        out = "[info] noise\n{\"not\": \"it\"}\n" + \
            self.line(metrics, run.END_TO_END) + "\n"
        last = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(last["metrics"]["total_s"],
                         {"value": 1.2345678901, "unit": "s"})
        self.assertLess(len(out.strip().splitlines()[-1]), 2000)

    def test_every_per_layer_metric_fits_with_a_unit(self):
        line = self.line({k: 123456.789012 for k in run.PER_LAYER},
                         run.PER_LAYER)
        parsed = json.loads(line)
        self.assertEqual(set(parsed["metrics"]), set(run.PER_LAYER))
        self.assertTrue(all(m["unit"] for m in parsed["metrics"].values()))
        self.assertLessEqual(len(line.encode()), 64 * 1024)


class FailedOps(unittest.TestCase):
    RAW = {"setup_base_s": 1.0, "setup_reps_s": [2.0, 3.0, 4.0],
           "samples": {"day1_s": [40.0]}, "values": {},
           "attempted": 8, "failed": 1, "failures": ["noop.etl.dbt: boom"]}

    def run_main(self, raw):
        out = io.StringIO()
        with mock.patch.object(run, "spark_home", return_value="spark"), \
                mock.patch.object(run, "build"), \
                mock.patch.object(run, "run_jvm", return_value=raw), \
                contextlib.redirect_stdout(out), \
                contextlib.redirect_stderr(io.StringIO()):
            run.main(["--workload", "pipeline", "--seed", "1",
                      "--seconds", "1", "--trace", "0"])
        return out.getvalue()

    def test_a_failed_op_withholds_every_metric(self):
        with self.assertRaises(SystemExit) as e:
            self.run_main(self.RAW)
        self.assertNotEqual(e.exception.code, 0)

    def test_a_clean_run_reports_every_end_to_end_metric(self):
        raw = dict(self.RAW, failed=0, failures=[],
                   samples={"day1_s": [40.0], "noop_s": [15.0]})
        last = json.loads(self.run_main(raw).strip().splitlines()[-1])
        self.assertEqual(last["metrics"]["total_s"]["value"], 55.0)
        self.assertEqual(last["metrics"]["setup_s"]["value"], 4.0)
        self.assertEqual(set(last["metrics"]), set(run.END_TO_END))


class OracleDigest(unittest.TestCase):
    def test_hash_ignores_column_order_but_not_row_order(self):
        import duckdb
        con = duckdb.connect()
        rows = "SELECT * FROM (VALUES {}) t({})"
        ab = run.digest(con, rows.format("(1, 2.5), (3, 4.5)", "a, b"))
        ba = run.digest(con, rows.format("(2.5, 1), (4.5, 3)", "b, a"))
        swapped = run.digest(con, rows.format("(3, 4.5), (1, 2.5)", "a, b"))
        self.assertEqual(ab, ba)
        self.assertEqual(ab[0], 2)
        self.assertNotEqual(ab, swapped)

    def test_expected_file_has_a_count_and_hash_per_query(self):
        exp = run.expected()
        self.assertEqual(len(exp), 136)
        self.assertTrue(all(n >= 0 and len(h) == 16 for n, h in exp.values()))


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.PER_LAYER)
        self.assertTrue(all(m["bound"] <= 0.25 for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
