"""Unit tests for the benchmark's pure logic.

    python3 -m unittest discover -s benchmark/tests
"""
import datetime as dt
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def stage(tag, layer, submit, cpu_s, tasks=1, shuffle_b=0):
    return [0, 0, tag, layer, submit, int(cpu_s * 1e9), 5, 1, 2, shuffle_b, 0, 100, 0, tasks]


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail(list(range(20))), (19, 100.0, 20))
        self.assertEqual(metrics.tail(list(range(21))), (10, 100.0 * 11 / 21, 21))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class SelfTimeTest(unittest.TestCase):
    def test_subtracts_job_coverage(self):
        self.assertEqual(metrics.self_time([(0, 10)], [(2, 4), (6, 7)]), 7)

    def test_overlapping_jobs_count_once(self):
        self.assertEqual(metrics.self_time([(0, 10)], [(2, 6), (4, 8)]), 4)

    def test_jobs_outside_spans_do_not_count(self):
        self.assertEqual(metrics.self_time([(0, 10), (20, 30)], [(8, 22)]), 16)

    def test_overlapping_spans_count_once(self):
        self.assertEqual(metrics.self_time([(0, 10), (5, 15)], []), 15)


class LayerCountersTest(unittest.TestCase):
    spans = [["1:queries.build", "queries.build", 100.0, 200.0],
             ["1:sink.run", "sink.run", 200.0, 300.0]]

    def test_tagged_stages_land_in_their_layer(self):
        out, untagged_cpu, frac = metrics.layer_counters([
            stage("1:queries.build", "operators.Dedup", 150, 2.0, tasks=4,
                  shuffle_b=3 * 1024 * 1024),
            stage("1:sink.run", "sink", 250, 1.0)], self.spans)
        self.assertAlmostEqual(out["operators.Dedup.cpu_s"], 2.0)
        self.assertEqual(out["operators.Dedup.tasks"], 4)
        self.assertAlmostEqual(out["operators.Dedup.shuffle_mb"], 3.0)
        self.assertAlmostEqual(out["sink.cpu_s"], 1.0)
        self.assertEqual((untagged_cpu, frac), (0.0, 0.0))
        self.assertEqual(len(out), len(metrics.LAYERS) * len(metrics.COUNTERS))

    def test_missing_and_stale_tags_are_untagged(self):
        stages = [stage(None, "operators", 150, 1.5),             # pooled thread
                  stage("1:queries.build", "operators", 250, 0.5),  # stale tag
                  stage("9:sink.run", "sink", 150, 0.25),          # unknown span
                  stage("1:sink.run", "sink", 250, 1.0)]
        out, untagged_cpu, frac = metrics.layer_counters(stages, self.spans)
        self.assertAlmostEqual(untagged_cpu, 2.25)
        self.assertEqual(frac, 0.75)
        self.assertEqual(out["operators.cpu_s"], 0.0)

    def test_layer_cpu_plus_untagged_is_the_total(self):
        stages = [stage("1:queries.build", "la", 120, 0.7),
                  stage(None, "operators", 130, 0.2),
                  stage("1:sink.run", "sink", 260, 1.1)]
        out, untagged_cpu, _ = metrics.layer_counters(stages, self.spans)
        tagged = sum(v for k, v in out.items() if k.endswith(".cpu_s"))
        self.assertAlmostEqual(tagged + untagged_cpu, 2.0)


class SkippedFracTest(unittest.TestCase):
    def test_only_sink_jobs(self):
        jobs = [[0, 0, 1, 4, 2, "sink"], [1, 0, 1, 2, 0, "sink"],
                [2, 0, 1, 10, 10, "operators"]]
        self.assertAlmostEqual(metrics.skipped_frac(jobs), 2 / 6)
        self.assertEqual(metrics.skipped_frac([]), 0.0)


class ResultHashTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = metrics.result_hash(["b", "a"], [(1, "x"), (2, "y")])
        b = metrics.result_hash(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_duplicates_and_values_matter(self):
        base = metrics.result_hash(["a"], [(1,), (2,)])
        self.assertNotEqual(base, metrics.result_hash(["a"], [(1,), (2,), (2,)]))
        self.assertNotEqual(base, metrics.result_hash(["a"], [(1,), (3,)]))
        self.assertNotEqual(base, metrics.result_hash(["c"], [(1,), (2,)]))

    def test_floats_compare_exactly_and_types_are_kept(self):
        self.assertNotEqual(metrics.result_hash(["a"], [(0.1 + 0.2,)]),
                            metrics.result_hash(["a"], [(0.3,)]))
        self.assertNotEqual(metrics.result_hash(["a"], [(1,)]),
                            metrics.result_hash(["a"], [(1.0,)]))
        self.assertNotEqual(metrics.result_hash(["a"], [("1",)]),
                            metrics.result_hash(["a"], [(1,)]))

    def test_timestamps_and_nulls(self):
        t = dt.datetime(2024, 1, 1, 12, 0)
        self.assertEqual(metrics.result_hash(["a", "b"], [(t, None)]),
                         metrics.result_hash(["b", "a"], [(None, t)]))
        self.assertNotEqual(metrics.result_hash(["a"], [(None,)]),
                            metrics.result_hash(["a"], [("None",)]))


if __name__ == "__main__":
    unittest.main()
