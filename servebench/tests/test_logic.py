"""Tests for ServeBench's own logic (no engine needed):

    python3 -m unittest discover -s servebench/tests
"""

import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sb import check, gen, metrics, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertIsNone(stats.percentile([], 50))

    def test_order_does_not_matter(self):
        v = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(v, 50), 3)
        self.assertEqual(stats.percentile(v, 0), 1)

    def test_weighted(self):
        self.assertEqual(stats.weighted_percentile([(1, 1), (2, 1), (3, 2)], 50), 2)
        self.assertEqual(stats.weighted_percentile([(1, 3), (2, 1)], 50), 1)
        self.assertEqual(stats.weighted_percentile([(1, 3), (2, 1)], 90), 2)
        self.assertIsNone(stats.weighted_percentile([], 50))

    def test_shapes_weigh_the_same_within_a_client(self):
        # Client "d" ran shape 0 three times and shape 1 once: each weighs
        # half of d's share. Client "p" keeps its own share (1/5).
        pairs = stats.mix_weights([("d", 0, 10), ("d", 0, 11), ("d", 0, 12), ("d", 1, 100),
                                   ("p", 0, 50)])
        self.assertAlmostEqual(sum(w for _, w in pairs), 1.0)
        self.assertEqual(dict((v, round(w, 3)) for v, w in pairs),
                         {10: 0.133, 11: 0.133, 12: 0.133, 100: 0.4, 50: 0.2})
        self.assertEqual(stats.weighted_percentile(pairs, 50), 50)
        self.assertEqual(stats.weighted_percentile(pairs, 61), 100)

    def test_highest_supported(self):
        # At least ten samples must lie above the reported percentile.
        self.assertEqual(stats.highest_supported_percentile(100), 90)
        self.assertEqual(stats.highest_supported_percentile(99), 75)
        self.assertEqual(stats.highest_supported_percentile(200), 95)
        self.assertEqual(stats.highest_supported_percentile(1000), 99)
        self.assertEqual(stats.highest_supported_percentile(40), 75)
        self.assertEqual(stats.highest_supported_percentile(20), 50)
        self.assertIsNone(stats.highest_supported_percentile(19))


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_and_overlap_merged(self):
        spans = [
            (1, 0, 9, "query", 0.0, 10.0),
            (2, 1, 9, "parse", 0.0, 2.0),
            (3, 1, 9, "execute", 2.0, 6.0),
            (4, 3, 9, "analysis", 3.0, 5.0),
            (5, 1, 9, "collect", 5.0, 9.0),  # overlaps execute by 1 ms
        ]
        own = stats.self_times(spans)
        self.assertEqual(own["query"], [1.0])  # 10 - union(0..9)
        self.assertEqual(own["execute"], [2.0])
        self.assertEqual(own["analysis"], [2.0])
        self.assertEqual(own["collect"], [4.0])

    def test_child_outside_parent_is_clipped(self):
        own = stats.self_times([(1, 0, 1, "a", 0.0, 4.0), (2, 1, 1, "b", 3.0, 8.0)])
        self.assertEqual(own["a"], [3.0])


class FreshnessTest(unittest.TestCase):
    def test_rows_go_to_first_probe_that_sees_them(self):
        ticks = [(0.0, 50), (10.0, 100), (20.0, 150)]
        probes = [(5.0, 0), (15.0, 50), (25.0, 120), (40.0, 150), (50.0, 150)]
        fresh, unseen = stats.attribute_freshness(ticks, probes, 100.0)
        # Rows 51-100 (due at 10) are first seen by the probe done at 25.
        self.assertEqual(fresh, [(15.0, 50), (15.0, 50), (20.0, 50)])
        self.assertEqual(unseen, 0)
        self.assertEqual(stats.percentile(stats.weighted(fresh), 90), 20.0)

    def test_probe_finishing_before_the_row_was_due_does_not_count(self):
        fresh, _ = stats.attribute_freshness([(10.0, 5)], [(9.0, 5), (12.0, 5)], 100.0)
        self.assertEqual(fresh, [(2.0, 5)])

    def test_rows_never_seen_get_a_lower_bound(self):
        fresh, unseen = stats.attribute_freshness([(0.0, 10), (5.0, 20)], [(7.0, 10)], 100.0)
        self.assertEqual(fresh, [(7.0, 10), (2.0, 10)])
        self.assertEqual(unseen, 10)

    def test_rows_due_after_the_horizon_are_left_out(self):
        fresh, unseen = stats.attribute_freshness([(0.0, 10), (5.0, 20)], [(7.0, 10)], 4.0)
        self.assertEqual((fresh, unseen), ([(7.0, 10)], 0))


def _capture_fixture(measure=40, burst=10, lp=25):
    rng = random.Random(3)
    truth = {"packets": gen.sip_calls(rng, 3 + measure + burst, "t"), "setup_reps": 3,
             "measure": measure, "burst": burst, "lp_points": lp}
    total = 1 + measure + burst

    def count_body(n):
        return [200, json.dumps([{"n": n}])]

    rec = {
        "ticks": [[i * 10.0, i * 10.0, (i + 1) * 10] for i in range(measure // 10)],
        "writes": [[0.0, 0.0, 5.0, 201]],
        "queries": [["probe", 0, 100.0, 110.0, 200, json.dumps([{"n": 1 + measure}]),
                     "http", 0]],
        "burst": {"frames": burst, "seconds": 0.1, "committed": total},
        "final": {"before_compaction": {"hep_1": count_body(total), "cpu": count_body(lp)},
                  "after_compaction": {"hep_1": count_body(total), "cpu": count_body(lp)},
                  "stored_bytes": 1000},
    }
    return truth, rec


class CheckerTest(unittest.TestCase):
    def test_correct_capture_passes(self):
        truth, rec = _capture_fixture()
        _, failed, wrong = check.capture(truth, rec)
        self.assertEqual(failed + wrong, [])

    def test_wrong_count_fails(self):
        truth, rec = _capture_fixture()
        rec["queries"][0][5] = json.dumps([{"n": 1 + 40 + 1}])  # more rows than were sent
        _, _, wrong = check.capture(truth, rec)
        self.assertTrue(any("outside" in f for f in wrong), wrong)

    def test_dropped_row_fails(self):
        truth, rec = _capture_fixture()
        rec["final"]["after_compaction"]["hep_1"] = [200, json.dumps([{"n": 1 + 40 + 10 - 1}])]
        _, _, wrong = check.capture(truth, rec)
        self.assertTrue(any("after_compaction" in f for f in wrong), wrong)

    def test_failed_status_counts(self):
        truth, rec = _capture_fixture()
        rec["writes"][0][3] = 500
        rec["queries"][0][4] = 500
        _, failed, wrong = check.capture(truth, rec)
        self.assertEqual((len(failed), wrong), (2, []))

    def test_exact_answers(self):
        expected = [[{"src_ip": "10.0.0.1", "n": 3}, {"src_ip": "10.0.0.2", "n": 2}]]
        good = json.dumps(expected[0])
        rec = {"queries": [["a", 0, 0.0, 1.0, 200, good, "http", 0]]}
        self.assertEqual(check.exact(expected, [None], rec, ["per_source"])[2], [])
        dropped = json.dumps(expected[0][:1])
        rec["queries"][0][5] = dropped
        self.assertEqual(len(check.exact(expected, [None], rec, ["per_source"])[2]), 1)
        wrong = json.dumps([{"src_ip": "10.0.0.1", "n": 4}, {"src_ip": "10.0.0.2", "n": 2}])
        rec["queries"][0][5] = wrong
        self.assertEqual(len(check.exact(expected, [None], rec, ["per_source"])[2]), 1)

    def test_anchored_times(self):
        expected = [{"ms": -5000, "src_ip": "a", "dst_ip": "b"}]
        body = json.dumps([{"ms": 1_700_000_000_000 - 5000, "src_ip": "a", "dst_ip": "b"}])
        self.assertIsNone(check.compare(expected, body, 1_700_000_000_000, "ms"))
        self.assertIsNotNone(check.compare(expected, body, 1_700_000_000_001, "ms"))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = gen.sip_calls(random.Random(5), 200, "x")
        b = gen.sip_calls(random.Random(5), 200, "x")
        self.assertEqual([p.frame() for p in a], [p.frame() for p in b])
        c = gen.sip_calls(random.Random(6), 200, "x")
        self.assertNotEqual([p.frame() for p in a], [p.frame() for p in c])

    def test_time_chunks_where_the_harness_stamps_them(self):
        f = gen.hep_frame("10.0.0.1", "10.0.0.2", 5060, 5080, "c", "INVITE", 1_234_567)
        self.assertEqual(int.from_bytes(f[gen.TSEC_AT:gen.TSEC_AT + 4], "big"), 1234)
        self.assertEqual(int.from_bytes(f[gen.TUSEC_AT:gen.TUSEC_AT + 4], "big"), 567000)

    def test_benchmark_json_lists_the_metrics_printed(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([m["name"] for m in bench["per_layer"]], metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
