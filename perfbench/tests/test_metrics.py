import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))              # 100 samples
        p, v = metrics.tail(xs)
        self.assertEqual(p, 90)               # 10 samples above the 90th
        self.assertEqual(v, 90)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_keeps_ten_beyond_at_awkward_sizes(self):
        for n in (20, 23, 57, 1000, 1234):
            p, v = metrics.tail(list(range(n)))
            self.assertGreaterEqual(sum(x > v for x in range(n)), 10, n)
            # one percentile higher would leave fewer than ten beyond
            k = -(-(p + 1) * n // 100)
            self.assertLess(n - k, 10, n)

    def test_order_insensitive(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_maximum_below_twenty_samples(self):
        # with 19 samples the rule's percentile (47) would sit below the median
        self.assertEqual(metrics.tail(list(range(19))), (100, 18))
        self.assertEqual(metrics.tail([3.0]), (100, 3.0))
        self.assertEqual(metrics.tail(list(range(20))), (50, 9))


class SelfTime(unittest.TestCase):
    def span(self, s, e):
        return {"start": s, "end": e}

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(metrics.union_length([(0, 4), (2, 6)], 1, 5), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        parent = self.span(0, 10)
        kids = [self.span(1, 3), self.span(2, 5), self.span(9, 12)]
        # children cover [1,5] and [9,10] of the parent: 5 of 10 ms
        self.assertEqual(metrics.self_time(parent, kids), 5)
        self.assertEqual(metrics.self_time(parent, []), 10)


class EndToEnd(unittest.TestCase):
    def op(self, name, wall, error=None):
        return {"name": name, "wall_s": wall, "error": error, "heap_mb": 100.0}

    def test_pass_is_the_sum_of_each_ops_fastest_execution(self):
        result = {"setup_end_epoch_ms": 31000.0, "passes": [
            {"ops": [self.op("a", 4.0), self.op("b", 1.0)]},
            {"ops": [self.op("b", 3.0), self.op("a", 2.0)]}]}
        m, notes = metrics.end_to_end(result, 1000.0)
        self.assertEqual(m["pass_s"], (3.0, "s"))
        self.assertEqual(m["setup_s"], (30.0, "s"))
        self.assertEqual(notes["slowest_op"], "a")

    def test_failed_executions_are_not_timed(self):
        result = {"setup_end_epoch_ms": 0.0, "passes": [
            {"ops": [self.op("a", 0.5, error="boom"), self.op("b", 1.0)]},
            {"ops": [self.op("a", 2.0), self.op("b", 1.5)]}]}
        self.assertEqual(metrics.end_to_end(result, 0.0)[0]["pass_s"], (3.0, "s"))


class Names(unittest.TestCase):
    def test_every_reported_name_and_unit_is_valid(self):
        names = list(metrics.LAYER_UNITS) + list(metrics.TRACE_UNITS) + [
            "setup_s", "pass_s", "live_heap_peak_mb"]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        for u in list(metrics.LAYER_UNITS.values()) + ["s", "MB", "MB/s", "ratio", "count"]:
            self.assertTrue(metrics.valid_unit(u), u)

    def test_charset_rejects(self):
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(metrics.valid_name(bad), bad)
        self.assertFalse(metrics.valid_unit("m s"))

    def test_module_keys(self):
        self.assertEqual(metrics.module_key("ops.Triangles"), "ops.Triangles")
        self.assertEqual(metrics.module_key("ops.AsOfJoin"), "graft_other")
        self.assertEqual(metrics.module_key("unattributed"), "unattributed")

    def test_layout_jobs_count_under_caller_and_layout(self):
        self.assertEqual(metrics.job_modules({"module": "ext.Dedup", "via_layout": True}),
                         ("ext.Dedup", "ops.Layout"))
        self.assertEqual(metrics.job_modules({"module": "ext.Dedup", "via_layout": False}),
                         ("ext.Dedup",))
        self.assertEqual(metrics.job_modules({"module": "ops.Layout", "via_layout": True}),
                         ("ops.Layout",))

    def test_action_jobs_count_under_the_result_module(self):
        job = {"module": "unattributed", "via_layout": False}
        self.assertEqual(metrics.job_modules(job, "ops.Stats"), ("ops.Stats",))
        self.assertEqual(metrics.job_modules(job), ("unattributed",))
        self.assertEqual(metrics.job_modules({"module": "ext.Dedup"}, "ops.Stats"),
                         ("ext.Dedup",))


if __name__ == "__main__":
    unittest.main()
