"""Tests for perfbench/compare.py on canned results.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402

DATA = os.path.join(HERE, "data")
SPEC = {"end_to_end": [
    {"name": "records_per_s", "unit": "1/s", "better": "higher", "bound": 0.15},
    {"name": "clip_latency_p50_ms", "unit": "ms", "better": "lower", "bound": 0.15},
    {"name": "clip_latency_p99_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]}


class ParseTest(unittest.TestCase):
    def test_sbt_prefixed_capture_parses(self):
        # every line tagged `[info] `, a `[success]` trailer after the result
        with open(os.path.join(DATA, "change", "steady_mix-2.log")) as f:
            result, detail = compare.parse(f.read())
        self.assertIsNotNone(result)
        self.assertEqual(result["metrics"]["records_per_s"]["value"], 12100)
        self.assertEqual(detail["workload"], "steady_mix")
        self.assertEqual(detail["seed"], 2)

    def test_last_result_line_wins(self):
        text = ('{"correct": true, "attempted": 1, "failed": 0, "metrics": {"a": {"value": 1}}}\n'
                'noise {not json\n'
                '{"correct": true, "attempted": 2, "failed": 0, "metrics": {"a": {"value": 2}}}\n')
        result, detail = compare.parse(text)
        self.assertEqual(result["attempted"], 2)
        self.assertIsNone(detail)

    def test_no_result_line(self):
        self.assertEqual(compare.parse("[info] compiling\n[error] boom\n"), (None, None))


class CompareTest(unittest.TestCase):
    def setUp(self):
        rows = compare.compare(compare.load(os.path.join(DATA, "parent")),
                               compare.load(os.path.join(DATA, "change")), SPEC)
        self.verdicts = {m: v for _, m, _, _, _, _, v in rows}
        self.rows = {m: r for r in rows for m in [r[1]]}

    def test_every_run_loaded(self):
        self.assertEqual(self.rows["records_per_s"][5], 4)

    def test_verdicts(self):
        self.assertEqual(self.verdicts["records_per_s"], "improved")
        self.assertEqual(self.verdicts["clip_latency_p50_ms"], "regressed")
        self.assertEqual(self.verdicts["clip_latency_p99_ms"], "unresolved")
        self.assertEqual(self.verdicts["setup_s"], "no worse")
        self.assertEqual(self.verdicts["error_rate"], "regressed")

    def test_medians_and_wins(self):
        _, _, qa, qb, wins, pairs, _ = self.rows["records_per_s"]
        self.assertAlmostEqual(qa[1], 10025)
        self.assertAlmostEqual(qb[1], 12025)
        self.assertEqual((wins, pairs), (4, 4))

    def test_ungated_detail_metrics(self):
        rows = compare.compare(compare.load(os.path.join(DATA, "parent")),
                               compare.load(os.path.join(DATA, "change")),
                               {"end_to_end": SPEC["end_to_end"][:1]}, ungated=True)
        ungated = {r[1]: r for r in rows if r[-1] == "-"}
        self.assertEqual(sorted(ungated), ["clip_latency_p50_ms", "clip_latency_p99_ms", "setup_s"])
        self.assertAlmostEqual(ungated["clip_latency_p50_ms"][3][1], 1302.5)

    def test_wide_spread(self):
        # wider than the bound: unresolved, unless every change run is better
        v, _, _ = compare.verdict([100, 300, 50, 250], [60, 45, 240, 48], "lower", 0.1)
        self.assertEqual(v, "unresolved")
        # every run better, but by less than the parent's spread: no gain claimed
        v, _, _ = compare.verdict([100, 300, 50, 250], [40, 45, 42, 48], "lower", 0.1)
        self.assertEqual(v, "no worse")


if __name__ == "__main__":
    unittest.main()
