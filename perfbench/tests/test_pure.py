"""Tests of the benchmark's pure parts. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


class PercentileRule(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_tail_needs_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        for n in (100, 200, 1000, 10000):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10)

    def test_summarize(self):
        self.assertEqual(stats.summarize([1.0, 2.0, 3.0]), {"n": 3, "p50": 2.0})
        s = stats.summarize([float(i) for i in range(1, 101)])
        self.assertEqual(s["p90"], 90.0)


class FailureAccounting(unittest.TestCase):

    def test_failures_count_but_never_time(self):
        ops = [{"err": "", "s": 1.0}, {"err": "java.lang.RuntimeException", "s": 0.0},
               {"err": "", "s": 3.0}]
        attempted, failed, lat = stats.account(ops)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(lat, [1.0, 3.0])
        self.assertAlmostEqual(stats.fail_ratio(attempted, failed), 1 / 3)

    def test_fast_throw_does_not_lower_the_median(self):
        ok = [{"err": "", "s": 2.0}] * 5
        thrown = [{"err": "E", "s": 0.001}] * 5
        _, _, lat = stats.account(ok + thrown)
        self.assertEqual(stats.median(lat), 2.0)

    def test_empty(self):
        self.assertEqual(stats.account([]), (0, 0, []))
        self.assertEqual(stats.fail_ratio(0, 0), 0.0)


class Fingerprint(unittest.TestCase):

    def test_row_and_column_order_do_not_matter(self):
        a = stats.fingerprint(["x", "y"], [(1, "a"), (2, "b")])
        b = stats.fingerprint(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)

    def test_numbers_compare_by_value_across_types(self):
        a = stats.fingerprint(["n", "v"], [(3, 0.1 + 0.2)])
        b = stats.fingerprint(["n", "v"], [(3.0, decimal.Decimal("0.3"))])
        self.assertEqual(a, b)

    def test_values_and_multiplicity_matter(self):
        base = stats.fingerprint(["x"], [(1,), (2,)])
        self.assertNotEqual(base, stats.fingerprint(["x"], [(1,), (3,)]))
        self.assertNotEqual(base, stats.fingerprint(["x"], [(1,), (2,), (2,)]))
        self.assertNotEqual(base, stats.fingerprint(["z"], [(1,), (2,)]))
        self.assertNotEqual(stats.fingerprint(["x"], [(None,)]),
                            stats.fingerprint(["x"], [("null",)]))

    def test_row_count_prefix(self):
        self.assertTrue(stats.fingerprint(["x"], [(1,), (2,)]).startswith("2:"))


class GeneratorDeterminism(unittest.TestCase):

    def _same_dirs(self, a, b):
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        return not mismatch and not errors

    def test_yelp(self):
        with tempfile.TemporaryDirectory() as t:
            e1 = gen.yelp(os.path.join(t, "a"), 5, 80)
            e2 = gen.yelp(os.path.join(t, "b"), 5, 80)
            e3 = gen.yelp(os.path.join(t, "c"), 6, 80)
            self.assertEqual(e1, e2)
            self.assertEqual(len(e1), 21)
            self.assertTrue(self._same_dirs(os.path.join(t, "a"), os.path.join(t, "b")))
            self.assertFalse(self._same_dirs(os.path.join(t, "a"), os.path.join(t, "c")))

    def test_tpch_and_corpus(self):
        with tempfile.TemporaryDirectory() as t:
            for d, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.tpch(os.path.join(t, d), seed, 0.0005)
                gen.corpus(os.path.join(t, d), seed, 40, 40)
            self.assertTrue(self._same_dirs(os.path.join(t, "a"), os.path.join(t, "b")))
            self.assertFalse(self._same_dirs(os.path.join(t, "a"), os.path.join(t, "c")))

    def test_change_rounds(self):
        r1 = gen.change_rounds(3, 5, 100, 100)
        self.assertEqual(r1, gen.change_rounds(3, 5, 100, 100))
        self.assertNotEqual(r1, gen.change_rounds(4, 5, 100, 100))
        # inserted ids never collide across rounds, nor with the corpus
        for table in ("{docs}", "{vecs}"):
            ids = [int(x) for r in r1 for s in r if s.startswith("INSERT INTO " + table)
                   for x in re.findall(r"\((\d+), ", s)]
            self.assertEqual(len(ids), 5 * 6)
            self.assertEqual(len(set(ids)), len(ids))
            self.assertGreaterEqual(min(ids), 100)


class Contract(unittest.TestCase):

    @unittest.skipUnless(os.path.exists(BENCHMARK_JSON), "no BENCHMARK.json")
    def test_traced_run_reports_exactly_the_listed_layer_metrics(self):
        with open(BENCHMARK_JSON) as f:
            listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        empty = {"spans": [], "check": {}, "ops": []}
        for w in ("wh_build", "index_cdc"):
            got = run.per_layer(empty, w)
            self.assertEqual(sorted(got), sorted(listed))
            self.assertEqual({k: run.layer_unit(k) for k in got}, listed)

    @unittest.skipUnless(os.path.exists(BENCHMARK_JSON), "no BENCHMARK.json")
    def test_listed_workloads_exist(self):
        with open(BENCHMARK_JSON) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
        self.assertTrue(set(names) <= set(run.MAIN_KIND))


if __name__ == "__main__":
    unittest.main()
