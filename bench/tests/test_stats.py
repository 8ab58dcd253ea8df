"""Unit tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s bench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def span(i, parent, start, end, name="exec.execute", op=0):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_s": start, "end_s": end, "attrs": {}}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        # p99.9 of 1000 samples has 1 beyond it, p99 has exactly 10
        self.assertEqual(stats.tail([float(x) for x in range(1, 1001)]), (99.0, 990.0, 10))

    def test_falls_back_down_the_ladder(self):
        # 30 samples: p95/p90/p75 leave 1/3/7 beyond, p50 leaves 15
        self.assertEqual(stats.tail(list(range(30, 0, -1))), (50.0, 15, 15))

    def test_none_when_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)
        self.assertIsNone(stats.tail([]))


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 2, 2.0, 3.0),
                 span(4, 1, 5.0, 9.0)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 3.0)   # 10 - (3 + 4); the grandchild is inside span 2
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 4.0)

    def test_overlapping_and_overhanging_children_count_once(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 5.0), span(3, 1, 4.0, 6.0),
                 span(4, 1, 9.0, 12.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 10.0 - 5.0 - 1.0)

    def test_layer_table_sums_self_time_per_layer(self):
        spans = [span(1, 0, 0.0, 10.0, "op"), span(2, 1, 1.0, 4.0, "exec.compile"),
                 span(3, 1, 4.0, 9.0, "exec.execute"), span(4, 3, 5.0, 6.0, "model.load")]
        table = stats.layer_table(spans)
        self.assertAlmostEqual(table["bench"], 2.0)
        self.assertAlmostEqual(table["exec"], 3.0 + 4.0)
        self.assertAlmostEqual(table["model"], 1.0)


if __name__ == "__main__":
    unittest.main()
