"""Tests of the benchmark's launcher: output parsing, the result line,
the oracle diff and the BENCHMARK.json contract.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

SAMPLE = "\n".join([
    "[info] welcome to sbt",
    '{"workload":"router_churn","metric":"setup_s","value":7.25,"unit":"s","n":3}',
    '[info] {"workload":"router_churn","metric":"ignored","value":1,"unit":"s","n":1}',
    '{"workload":"router_churn","metric":"throughput_per_s","value":2.1e4,"unit":"1/s","n":6}',
    "{not json",
    '{"workload":"router_churn","metric":"latency_p99_ms","value":null,"unit":"ms","n":0}',
    '{"workload":"router_churn","outcome":{"attempted":20,"failed":1,"failures":["batch 7"]}}',
])


class ParseTest(unittest.TestCase):
    def test_reads_bare_metric_lines_only(self):
        metrics, outcome, lines = run.parse_lines(SAMPLE)
        self.assertEqual(set(metrics), {"setup_s", "throughput_per_s", "latency_p99_ms"})
        self.assertEqual(metrics["throughput_per_s"], {"value": 21000.0, "unit": "1/s", "n": 6})
        self.assertEqual(outcome, {"attempted": 20, "failed": 1, "failures": ["batch 7"]})
        self.assertEqual(len(lines), 3)

    def test_metric_lines_fit_a_short_tail(self):
        line = ('{"workload":"router_fanout","metric":"sink.serialize_us_per_delivery",'
                '"value":0.12345678901234567,"unit":"us","n":1234567}')
        self.assertLess(len(line), 200)
        self.assertIn("sink.serialize_us_per_delivery", run.parse_lines(line)[0])

    def test_result_line(self):
        metrics, outcome, _ = run.parse_lines(SAMPLE)
        r = run.result_line(metrics, ["setup_s", "throughput_per_s"], 20, 0)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["metrics"]["setup_s"], {"value": 7.25, "unit": "s"})
        self.assertFalse(run.result_line(metrics, ["setup_s"], 20, 1)["correct"])

    def test_missing_or_null_metric_gives_no_result(self):
        metrics, _, _ = run.parse_lines(SAMPLE)
        self.assertIsNone(run.result_line(metrics, ["setup_s", "absent"], 20, 0))
        self.assertIsNone(run.result_line(metrics, ["latency_p99_ms"], 20, 0))


class OracleDiffTest(unittest.TestCase):
    def test_diff(self):
        try:
            import pandas as pd
        except ImportError:
            self.skipTest("pandas not installed")
        import oracle
        a = pd.DataFrame({"b": [2, 1], "a": ["x", "y"]})
        self.assertIsNone(oracle.diff(a, pd.DataFrame({"a": ["y", "x"], "b": [1, 2]})))
        self.assertIn("rows", oracle.diff(a, a.head(1)))
        self.assertIn("dtype", oracle.diff(a, a.astype({"b": "float64"})))
        self.assertIn("got", oracle.diff(a, pd.DataFrame({"a": ["x", "y"], "b": [2, 3]})))


class ContractTest(unittest.TestCase):
    def setUp(self):
        self.bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.cfg = json.load(open(os.path.join(BENCH, "config.json")))

    def test_keys_and_limits(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [w["name"] for w in b["workloads"]]
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("lower", "higher"))
            names.append(m["name"])
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_workloads_are_configured(self):
        for w in self.bench["workloads"]:
            self.assertTrue(w["name"] == "query_mix" or w["name"] in self.cfg["router"])

    def test_pool_covers_every_family(self):
        fam = {"tpch" if re.match(r"q[0-9]+_", q) else q.split("_")[0]
               for q in self.cfg["query_mix"]["pool"]}
        self.assertEqual(fam, {"route", "member", "auth", "tpch", "graph", "dedup",
                               "window", "sim"})


if __name__ == "__main__":
    unittest.main()
