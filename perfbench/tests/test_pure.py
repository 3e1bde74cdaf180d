"""Tests of the benchmark's own pure code.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile(list(reversed(xs)), 10), 1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_percentile_leaves_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        for n in (20, 100, 333, 1000, 5000):
            p = stats.tail_percentile(n)
            beyond = n - stats.percentile(list(range(1, n + 1)), p)
            self.assertGreaterEqual(beyond, 10)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            ("api.request", "r1", 1, 0, 0, 100),
            ("plans.plan", "r1", 2, 1, 10, 30),
            ("engine.execute", "r1", 3, 1, 20, 50),   # overlaps its sibling
            ("engine.inner", "r1", 4, 3, 25, 45),     # grandchild: not the root's
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 60)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 20)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [("a.x", "t", 1, 0, 100, 200), ("b.y", "t", 2, 1, 50, 150),
                 ("b.z", "t", 3, 1, 190, 260)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_layer_totals(self):
        spans = [("api.request", "r", 1, 0, 0, 4_000_000),
                 ("engine.execute", "r", 2, 1, 1_000_000, 4_000_000),
                 ("api.request", "s", 3, 0, 0, 2_000_000)]
        self.assertEqual(stats.layer_self_ms(spans), {"api": 3.0, "engine": 3.0})


class RecordTest(unittest.TestCase):
    def test_quotes_and_backslashes_survive_in_every_string(self):
        nasty = 'a"b\\c\\"d\n'
        line = stats.record(True, 3, 1, {nasty: (1.25, nasty), "plain": (2, "ms")})
        self.assertNotIn("\n", line)
        back = json.loads(line)
        self.assertEqual(back["metrics"][nasty], {"value": 1.25, "unit": nasty})
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((back["attempted"], back["failed"]), (3, 1))


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.events, cls.docs = gen.load_tables(os.path.join(BENCH, "data"))

    def lines(self, seed, n=1500):
        return gen.envelopes(seed, n, self.events, self.docs)

    def test_same_seed_same_lines(self):
        self.assertEqual(self.lines(5), self.lines(5))
        self.assertNotEqual(self.lines(5), self.lines(6))

    def test_properties(self):
        lines = self.lines(11, 3000)
        parsed = []
        malformed = 0
        for line in lines:
            try:
                parsed.append(json.loads(line))
            except ValueError:
                malformed += 1
        self.assertTrue(5 <= malformed <= 60, malformed)
        bodies = [e.get("payload", e) for e in parsed]
        self.assertTrue(any("payload" in e for e in parsed))
        self.assertTrue(any("payload" not in e for e in parsed))
        self.assertEqual({b["op"] for b in bodies}, {"c", "r", "u", "d"})
        images = [b["after"] or b["before"] for b in bodies]
        ids = [(b["source"]["table"], i["id"]) for b, i in zip(bodies, images)]
        self.assertLess(len(set(ids)), len(ids) * 0.6)
        contents = [i["content"] for i in images]
        self.assertLess(len(set(contents)), len(contents) * 0.9)
        # late envelopes: only after the warm-up, at least 50 min behind,
        # and only on tables whose deletes keep a tombstone
        by_seq = sorted((i["views_count"], b) for b, i in zip(bodies, images))
        run_max, late = None, 0
        for seq, b in by_seq:
            if run_max is not None and b["ts_ms"] < run_max:
                late += 1
                self.assertGreaterEqual(seq, gen.LATE_AFTER)
                self.assertGreaterEqual(run_max - b["ts_ms"],
                                        (gen.LATE_MIN_MINUTES - 1) * 60_000)
                self.assertIn(b["source"]["table"], gen.LATE_TABLES)
            run_max = b["ts_ms"] if run_max is None else max(run_max, b["ts_ms"])
        self.assertGreater(late, 20)

    def test_an_alert_window_closes_in_a_ten_second_run(self):
        # 200 warm-up + 800 trickle envelopes: the newest must be 10 min
        # (the watermark) past the first 30-minute boundary
        for seed in range(20):
            bodies = []
            for line in self.lines(seed, 1000):
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                bodies.append(e.get("payload", e))
            first = min(b["ts_ms"] for b in bodies
                        if (b["after"] or b["before"])["views_count"] < gen.LATE_AFTER)
            boundary = (first // gen.ALERT_WINDOW_MS + 1) * gen.ALERT_WINDOW_MS
            self.assertLessEqual(boundary - first, gen.ALERT_LEAD_MS)
            newest = max(b["ts_ms"] for b in bodies)
            self.assertGreater(newest - gen.WATERMARK_MS, boundary + 60_000)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_match_the_runner(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         list(run.PER_LAYER))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
