#!/usr/bin/env python3
"""Tests of scripts/perf_ab_summary.py on synthetic perf_ab.sh jsonl.

Run: python3 scripts/test_perf_ab_summary.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_ab_summary  # noqa: E402

METRICS = [
    {"name": "throughput_per_s", "better": "higher", "bound": 0.25},
    {"name": "peak_rss_mb", "better": "lower", "bound": 0.1},
]


def record(side, seed, metrics, correct=True, workload="w", order=None):
    rec = {"side": side, "workload": workload, "seed": seed, "trace": 0, "rev": "x",
           "result": {"correct": correct, "failed": 0,
                      "metrics": {k: {"value": v} for k, v in metrics.items()}}}
    if order is not None:
        rec["order"] = order
    return rec


class VerdictTest(unittest.TestCase):
    def summarize(self, base, change, extra=()):
        """Rows keyed by metric for paired runs of `base` and `change`:
        lists of (throughput_per_s, peak_rss_mb), one per seed."""
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "ab.jsonl")
            with open(path, "w") as f:
                for seed, (b, c) in enumerate(zip(base, change)):
                    for side, (tp, rss) in (("base", b), ("change", c)):
                        f.write(json.dumps(record(side, seed, {
                            "throughput_per_s": tp, "peak_rss_mb": rss})) + "\n")
                for rec in extra:
                    f.write(json.dumps(rec) + "\n")
            rows, left_out = perf_ab_summary.summarize([path], METRICS)
        return {r["metric"]: r for r in rows}, left_out

    def test_within_bound(self):
        rows, _ = self.summarize(
            [(100, 2000), (101, 2001), (102, 2002), (103, 2003), (104, 2004)],
            [(99, 2010), (100, 2011), (101, 2012), (102, 2013), (103, 2014)])
        self.assertEqual(rows["throughput_per_s"]["verdict"], "within bound")
        self.assertEqual(rows["peak_rss_mb"]["verdict"], "within bound")

    def test_regressed_in_either_direction(self):
        # throughput 40% lower (bound 25%), RSS 15% higher (bound 10%)
        rows, _ = self.summarize(
            [(100, 2000), (101, 2000), (102, 2000), (103, 2000), (104, 2000)],
            [(60, 2300), (61, 2300), (62, 2300), (63, 2300), (64, 2300)])
        self.assertEqual(rows["throughput_per_s"]["verdict"], "regressed")
        self.assertEqual(rows["peak_rss_mb"]["verdict"], "regressed")

    def test_unresolved_when_base_spread_exceeds_bound(self):
        # base quartiles 80..130 around a median of 100: spread 0.5 > 0.25
        rows, _ = self.summarize(
            [(50, 2000), (80, 2000), (100, 2000), (130, 2000), (160, 2000)],
            [(90, 2000), (95, 2000), (100, 2000), (105, 2000), (110, 2000)])
        self.assertEqual(rows["throughput_per_s"]["verdict"], "unresolved")
        self.assertEqual(rows["peak_rss_mb"]["verdict"], "within bound")

    def test_wide_base_is_resolved_when_every_change_run_wins(self):
        rows, _ = self.summarize(
            [(50, 2000), (80, 2000), (100, 2000), (130, 2000), (160, 2000)],
            [(170, 2000), (180, 2000), (190, 2000), (200, 2000), (210, 2000)])
        self.assertEqual(rows["throughput_per_s"]["verdict"], "within bound")

    def test_regression_beats_spread(self):
        # a median worse by more than the bound is a regression even when
        # the base spread is wide
        rows, _ = self.summarize(
            [(50, 2000), (80, 2000), (100, 2000), (130, 2000), (160, 2000)],
            [(30, 2000), (40, 2000), (50, 2000), (60, 2000), (70, 2000)])
        self.assertEqual(rows["throughput_per_s"]["verdict"], "regressed")

    def test_incorrect_runs_are_left_out(self):
        bad = record("change", 0, {"throughput_per_s": 1, "peak_rss_mb": 1},
                     correct=False)
        rows, left_out = self.summarize([(100, 2000)], [(100, 2000)], extra=[bad])
        self.assertEqual(left_out, {("w", "incorrect or failed"): 1})
        self.assertEqual(rows["throughput_per_s"]["pairs"], 1)

    def test_order_effect_is_second_over_first_whichever_side(self):
        # the second run of every pair reads 1.3x the first, and the side
        # that runs first alternates; one older pair carries no order
        recs = []
        for seed, first in enumerate([100, 110, 120, 130]):
            sides = ("base", "change") if seed % 2 == 0 else ("change", "base")
            for order, (side, tp) in enumerate(zip(sides, (first, 1.3 * first)), 1):
                recs.append(record(side, seed, {"throughput_per_s": tp,
                                                "peak_rss_mb": 2000}, order=order))
        recs += [record("base", 9, {"throughput_per_s": 100, "peak_rss_mb": 2000}),
                 record("change", 9, {"throughput_per_s": 500, "peak_rss_mb": 2000})]
        rows, _ = self.summarize([], [], extra=recs)
        tp = rows["throughput_per_s"]
        self.assertEqual(tp["pairs"], 5)
        self.assertEqual(tp["order_pairs"], 4)
        self.assertAlmostEqual(tp["order_ratio"], 1.3)
        self.assertAlmostEqual(rows["peak_rss_mb"]["order_ratio"], 1.0)
        # base and change each win half of the ordered pairs
        self.assertEqual((tp["wins"], tp["losses"]), (3, 2))


if __name__ == "__main__":
    unittest.main()
