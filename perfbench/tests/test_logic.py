"""Tests for the benchmark's own logic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import callsite  # noqa: E402
import compare  # noqa: E402
import digest  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_min_samples(self):
        self.assertEqual(stats.min_samples(50), 20)
        self.assertEqual(stats.min_samples(90), 100)
        self.assertEqual(stats.min_samples(95), 200)
        self.assertEqual(stats.min_samples(99), 1000)

    def test_refuses_thin_tails(self):
        self.assertIsNone(stats.percentile(range(19), 50))
        self.assertIsNotNone(stats.percentile(range(20), 50))
        self.assertIsNone(stats.percentile(range(99), 90))
        self.assertIsNotNone(stats.percentile(range(100), 90))

    def test_interpolates(self):
        self.assertAlmostEqual(stats.percentile(range(21), 50), 10.0)
        self.assertAlmostEqual(stats.percentile(range(100), 90), 89.1)

    def test_tail_picks_highest_reportable(self):
        self.assertEqual(stats.tail(range(150))[0], 90)
        self.assertEqual(stats.tail(range(40))[0], 75)
        self.assertEqual(stats.tail(range(10)), (None, None))

    def test_quartiles_match_statistics(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))


class CallSites(unittest.TestCase):
    SOURCES = {"Tables": "graft", "Relational": "ops", "Dedup": "ops",
               "StreamingIngest": "streaming", "BarPipeline": "ingest",
               "RelationCache": "ops", "BarStore": "ingest", "SinkRetention": "ingest",
               "StatusServer": "serve", "Serve": "graft", "EventSink": "ingest"}

    def mod(self, site):
        return callsite.module_of(site, self.SOURCES)

    def test_named_layers(self):
        self.assertEqual(self.mod("parquet at Tables.scala:16"), "Tables")
        self.assertEqual(self.mod("collect at BarStore.scala:73"), "BarStore")
        self.assertEqual(self.mod("save at SinkRetention.scala:60"), "SinkRetention")
        self.assertEqual(self.mod("collect at EventSink.scala:70"), "SinkRetention")
        self.assertEqual(self.mod("collect at StatusServer.scala:160"), "StatusServer")
        self.assertEqual(self.mod("cache at RelationCache.scala:65"), "RelationCache")

    def test_packages(self):
        self.assertEqual(self.mod("collect at Dedup.scala:1885"), "ops")
        self.assertEqual(self.mod("isEmpty at StreamingIngest.scala:250"), "streaming")
        self.assertEqual(self.mod("collect at BarPipeline.scala:10"), "ops")

    def test_harness_and_unknown(self):
        self.assertEqual(self.mod("collect at Analytics.scala:85"), "exec")
        self.assertIsNone(self.mod("run at ThreadPoolExecutor.java:1136"))
        self.assertIsNone(self.mod("collect at Unknown.scala:3"))
        self.assertIsNone(self.mod(""))
        self.assertIsNone(self.mod(None))


class Digests(unittest.TestCase):
    def test_floats_at_nine_digits(self):
        a = digest.digest([(1.0000000001, "x")], ["v", "k"])
        b = digest.digest([(1.0000000002, "x")], ["v", "k"])
        self.assertEqual(a, b)
        self.assertNotEqual(a, digest.digest([(1.00001, "x")], ["v", "k"]))

    def test_column_and_row_order_do_not_matter(self):
        a = digest.digest([(1, "a"), (2, "b")], ["n", "s"])
        b = digest.digest([("b", 2), ("a", 1)], ["s", "n"])
        self.assertEqual(a, b)

    def test_names_and_nan(self):
        self.assertNotEqual(digest.digest([(1,)], ["a"]), digest.digest([(1,)], ["b"]))
        self.assertEqual(digest.canon([(float("nan"), None)], ["x", "y"]), ["NaN|None"])

    def test_matches_parity_gate_canon(self):
        # tools/check_parity.py's canon: columns by name, floats .9g, str()
        self.assertEqual(digest.canon([(2.5, 1, "z")], ["b", "a", "c"]), ["1|2.5|z"])


class Verdicts(unittest.TestCase):
    def test_improved(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "improved")

    def test_higher_is_better(self):
        parent = [100.0 + i % 3 for i in range(10)]
        change = [120.0 + i % 3 for i in range(10)]
        self.assertEqual(compare.verdict(parent, change, "higher", 0.1)["verdict"], "improved")
        self.assertEqual(compare.verdict(change, parent, "higher", 0.1)["verdict"], "worse")

    def test_no_worse(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x + 0.2 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "no worse")

    def test_worse(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x * 1.3 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "worse")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        parent = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = [x * 1.05 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "unresolved")

    def test_win_share_counts_ties_for_neither(self):
        r = compare.verdict([1.0, 2.0], [1.0, 1.5], "lower", 0.1)
        self.assertEqual(r["win_share"], 0.5)


class SelfTime(unittest.TestCase):
    def test_children_covered_once(self):
        spans = [
            {"id": 1, "parent": None, "module": "query", "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "module": "ops", "start_us": 0, "end_us": 30},
            {"id": 3, "parent": 1, "module": "exec", "start_us": 30, "end_us": 90},
            {"id": 4, "parent": 3, "module": "exec", "start_us": 40, "end_us": 60},
            {"id": 5, "parent": 3, "module": "exec", "start_us": 50, "end_us": 70},
        ]
        s = layers.self_times(spans)
        self.assertEqual(s["query"], 10)
        self.assertEqual(s["ops"], 30)
        self.assertEqual(s["exec"], (60 - 30) + 20 + 20)

    def test_union_length(self):
        self.assertEqual(layers.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(layers.union_length([]), 0)


class LayerOf(unittest.TestCase):
    def test_metric_names_to_layers(self):
        self.assertEqual(layers.layer_of("Tables.jobs"), "Tables")
        self.assertEqual(layers.layer_of("build.doc_tokens_s"), "build")
        self.assertEqual(layers.layer_of("self.RelationCache_s"), "RelationCache")
        self.assertEqual(layers.layer_of("streaming.state_commit_ms"), "streaming")

    def test_every_declared_metric_has_a_workload(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            declared = [m["name"] for m in json.load(f)["per_layer"]]
        loaded = {lay for w in run.WORKLOADS.values() for lay in w["layers"]}
        self.assertEqual([m for m in declared if layers.layer_of(m) not in loaded], [])


if __name__ == "__main__":
    unittest.main()
