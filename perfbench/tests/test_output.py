"""Self-test of the benchmark's output contract.

    python3 perfbench/tests/test_output.py

Runs `BENCHMARK.json`'s command once for every workload in untraced and
once in traced mode (about six minutes on 4 cores, after the first
build), parses its output (the summary line and the final result line)
and checks that every metric BENCHMARK.json names is printed with its
unit, that the summary-only end-to-end metrics are there, and that
query_tail_ms carries its percentile and sample count.
"""
import functools
import json
import math
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
sys.path.insert(0, str(HERE.parent))
import report  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@functools.lru_cache(maxsize=None)
def output_lines(workload, trace):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "1",
                              "--seconds", str(BENCH["run_seconds"]),
                              "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         check=True).stdout
    summary, final = out.strip().splitlines()[-2:]
    return json.loads(summary), json.loads(final)


def is_number(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


class OutputContract(unittest.TestCase):

    def check_final(self, final, declared):
        self.assertEqual(set(final), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(final["attempted"], int)
        self.assertGreaterEqual(final["attempted"], 1)
        self.assertIsInstance(final["failed"], int)
        self.assertEqual(set(final["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = final["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"}, m["name"])
            self.assertTrue(is_number(got["value"]), m["name"])
            self.assertEqual(got["unit"], m["unit"], m["name"])

    def test_untraced_prints_every_end_to_end_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                summary, final = output_lines(w["name"], 0)
                self.check_final(final, BENCH["end_to_end"])
                for m in BENCH["end_to_end"]:
                    self.assertGreater(final["metrics"][m["name"]]["value"], 0, m["name"])
                rep = summary["reported"]
                expected = set(report.REPORTED)
                if w["name"] != "index_lifecycle":
                    expected.discard("build_s")
                self.assertEqual(set(rep), expected)
                for name, m in rep.items():
                    self.assertEqual(m["unit"], report.REPORTED[name], name)
                    self.assertTrue(is_number(m["value"]), name)
                self.assertEqual(rep["error_rate"]["value"],
                                 final["failed"] / final["attempted"])
                tail = rep["query_tail_ms"]
                self.assertIn(tail["percentile"], range(51, 101))
                self.assertGreaterEqual(tail["samples"], 1)
                self.assertEqual(tail["samples"],
                                 sum(len(v) for v in summary["per_query_ms"].values()))
                self.assertEqual(tail["percentile"], report.tail_percentile(tail["samples"]))
                self.assertGreaterEqual(tail["value"], rep["query_p50_ms"]["value"])

    def test_traced_prints_every_per_layer_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                summary, final = output_lines(w["name"], 1)
                self.check_final(final, BENCH["per_layer"])
                self.assertIn("trace.overhead", final["metrics"])
                self.assertGreater(final["metrics"]["trace.overhead"]["value"], 0)
                self.assertEqual(final["metrics"]["trace.nonrepeating_counts"]["value"],
                                 len(summary["nonrepeating"]))
                self.assertIn("sched.jobs", summary["exact_counts"])


class TailPercentile(unittest.TestCase):

    def test_ten_samples_beyond(self):
        for n in (21, 32, 100, 1000):
            p = report.tail_percentile(n)
            self.assertGreater(p, 50)
            self.assertGreaterEqual(n - math.ceil(p * n / 100), 10)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10)

    def test_too_few_samples_reports_the_maximum(self):
        for n in (5, 8, 16, 20):
            self.assertEqual(report.tail_percentile(n), 100)
        self.assertEqual(report.nearest_rank([1.0, 2.0, 3.0], 100), 3.0)


class Failures(unittest.TestCase):

    HARNESS = {"executions": {"a": 3, "b@cold": 2, "b@warm": 2},
               "errors": [{"pass": "pass1", "key": "a", "error": "boom"}]}

    def test_a_thrown_execution_fails_once(self):
        self.assertEqual(report.failures(self.HARNESS, {}), (7, 1))

    def test_a_mismatch_fails_every_execution_of_its_key(self):
        self.assertEqual(report.failures(self.HARNESS, {"b@cold": "rows"}), (7, 3))
        self.assertEqual(report.failures(self.HARNESS, {"a": "rows"}), (7, 3))


if __name__ == "__main__":
    unittest.main()
