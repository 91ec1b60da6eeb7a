"""Tests of the benchmark's arithmetic and of the digest check.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 95), 5)
        self.assertAlmostEqual(stats.percentile(range(101), 95), 95.0)

    def test_op_median_interpolates_whole_milliseconds(self):
        ms = [11] * 30 + [12] * 40 + [13] * 50
        # 60th of 120 samples: 30 below the 12 ms bin, 30 more of its 40
        self.assertAlmostEqual(stats.op_median(ms, whole_ms=True), 11.5 + 30 / 40)
        self.assertEqual(stats.op_median([1.5, 2.5, 9.0], whole_ms=False), 2.5)

    def test_tail_percentile_keeps_ten_samples_above(self):
        # the highest candidate with n * (1 - p) >= 10
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 50, "end": 70},
            {"id": 4, "parent": 2, "start": 15, "end": 25},
        ]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 20, 3: 20, 4: 10})

    def test_overlapping_children_count_once(self):
        # two children running in parallel on other threads
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 60},
            {"id": 3, "parent": 1, "start": 30, "end": 80},
            {"id": 4, "parent": 1, "start": 90, "end": 120},  # clipped at 100
        ]
        self.assertEqual(stats.self_times(spans)[1], 100 - 70 - 10)


class CriticalPathTest(unittest.TestCase):
    def test_sum_of_slowest_per_wave(self):
        waves = [["a", "b"], ["c", "d", "e"], ["f"]]
        ms = {"a": 5, "b": 9, "c": 1, "d": 30, "e": 2, "f": 4}
        self.assertEqual(stats.critical_ms(waves, ms), 9 + 30 + 4)

    def test_nodes_that_did_not_run_count_zero(self):
        self.assertEqual(stats.critical_ms([["a"], ["b"]], {"a": 3}), 3)


class OverheadTest(unittest.TestCase):
    def test_ratio_of_medians_minus_one(self):
        self.assertAlmostEqual(
            stats.overhead_frac([1.1, 1.2, 5.0], [1.0, 1.0, 0.9]), 0.2)


class DigestCheckTest(unittest.TestCase):
    """A corrupted expected digest must fail the mart check."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        with open(os.path.join(self.dir, "leaves.txt"), "w") as f:
            f.write("m1\n")
        with open(os.path.join(self.dir, "oracle_A.sql"), "w") as f:
            f.write("-- model m1 table\nSELECT * FROM (VALUES (1, 'x'), (2, NULL)) t(k, g);\n")

    def record(self, rows, dg):
        return {"project_dir": self.dir,
                "iterations": [{"state": "A", "digests": [["m1", rows, dg]]}]}

    def test_digest_is_order_insensitive_and_matches_duckdb(self):
        want = oracle.expected_leaf_digests(self.dir, "A")["m1"]
        self.assertEqual(want, oracle.digest([(2, None), (1, "x")]))
        per_it, prep = oracle.check_dag(self.record(*want))
        self.assertEqual(per_it, {0: []})
        self.assertEqual(prep, [])

    def test_one_corrupted_expected_digest_fails(self):
        rows, dg = oracle.expected_leaf_digests(self.dir, "A")["m1"]
        bad = {"A": {"m1": (rows, "0" * 16)}}
        per_it, _ = oracle.check_dag(self.record(rows, dg), expected=bad)
        self.assertEqual(len(per_it[0]), 1)
        self.assertIn("m1", per_it[0][0])


if __name__ == "__main__":
    unittest.main()
