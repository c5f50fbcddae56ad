"""Checks the benchmark's statistics and span arithmetic against values
computed by hand.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import report  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(report.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(report.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(report.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(report.geomean([2.0, 4.0, 8.0]), 4.0)
        self.assertAlmostEqual(report.geomean(iter([0.5])), 0.5)

    def test_quartile_spread(self):
        # statistics.quantiles (exclusive method) of 1..10: q1 = 2.75, q3 = 8.25
        xs = [float(x) for x in range(10, 0, -1)]
        self.assertAlmostEqual(report.quartile_spread(xs), (8.25 - 2.75) / 5.5)
        # 1..5: q1 = 1.5, q3 = 4.5, median 3
        self.assertAlmostEqual(report.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]), 1.0)

    def test_summarize_over_runs(self):
        lines = ['{"metrics": {"suite_s": {"value": %s, "unit": "s"}}}' % v
                 for v in (5.0, 1.0, 4.0, 2.0, 3.0)]
        med, q1, q3, spread = report.summarize(lines)["suite_s"]
        self.assertEqual((med, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(spread, 1.0)

    def test_end_to_end(self):
        def op(name, c, e, cpu, failed=False):
            return {"op": name, "construct_s": c, "execute_s": e, "thread_cpu_s": cpu,
                    "failed": failed}
        result = {"setup_s": 9.5, "setup_cpu_s": 8.5, "passes": [
            {"wall_s": 3.0, "thread_cpu_s": 7.0, "ops": [op("a", 0.5, 0.5, 2.0), op("b", 1.0, 1.0, 4.0)]},
            {"wall_s": 5.0, "thread_cpu_s": 9.0, "ops": [op("a", 1.0, 1.0, 1.0), op("b", 2.0, 2.0, 8.0)]},
            {"wall_s": 4.0, "thread_cpu_s": 6.0,
             "ops": [op("a", 1.0, 2.0, 3.0), op("b", 0.0, 0.0, 0.0, failed=True)]},
        ]}
        metrics, wall = report.end_to_end(result)
        # cpu: a 2, 1, 3 -> 2; b 4, 8 and the failed pass left out -> 6
        self.assertEqual(wall["op_cpu_s"], {"a": 2.0, "b": 6.0})
        # wall: a 1, 2, 3 -> 2; b 2, 4 -> 3
        self.assertEqual(wall["op_s"], {"a": 2.0, "b": 3.0})
        self.assertEqual(metrics["setup_s"], (8.5, "s"))
        self.assertEqual(wall["setup_s"], 9.5)
        self.assertEqual(metrics["suite_cpu_s"], (7.0, "s"))
        self.assertAlmostEqual(metrics["op_cpu_s.geomean"][0], math.sqrt(12.0))
        self.assertEqual(wall["suite_s"], 4.0)
        self.assertAlmostEqual(wall["op_s.geomean"], math.sqrt(6.0))


class SpanTest(unittest.TestCase):
    def test_covered_ms_merges_overlaps_and_clips(self):
        self.assertEqual(report.covered_ms(0, 10, []), 0)
        self.assertEqual(report.covered_ms(0, 10, [(2, 4), (3, 6), (8, 12)]), 6)
        self.assertEqual(report.covered_ms(5, 10, [(0, 6), (6, 7)]), 2)

    def test_self_time_is_duration_minus_children(self):
        spans = report.add_self_times([
            {"id": "c", "parent": None, "start_ms": 0.0, "end_ms": 10.0},
            {"id": "j1", "parent": "c", "start_ms": 1.0, "end_ms": 4.0},
            {"id": "j2", "parent": "c", "start_ms": 3.0, "end_ms": 5.0},
            {"id": "s1", "parent": "j1", "start_ms": 1.5, "end_ms": 2.0},
        ])
        self.assertEqual([s["self_ms"] for s in spans], [6.0, 2.5, 2.0, 0.5])


if __name__ == "__main__":
    unittest.main()
