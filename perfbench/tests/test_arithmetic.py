"""Unit tests of the benchmark's own arithmetic on synthetic inputs.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import json
import os
import random
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "pylib"))
sys.path.insert(0, os.path.join(HERE, ".."))

import digest  # noqa: E402
import metrics  # noqa: E402
import workloads as w  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))              # 100 samples: rank 90, 10 beyond
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertIsNone(metrics.percentile(xs[:99], 90))   # 9 beyond
        self.assertIsNone(metrics.percentile([], 90))

    def test_order_does_not_matter(self):
        xs = list(range(200))
        random.Random(3).shuffle(xs)
        self.assertEqual(metrics.percentile(xs, 90), 179)

    def test_tail_is_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(41)]
        pct, value = metrics.tail(xs)
        self.assertAlmostEqual(pct, 100.0 * 31 / 41)
        self.assertEqual(value, 30.0)            # 10 samples (31..40) lie beyond
        self.assertEqual(metrics.tail(xs[:10]), (0.0, 0.0))


class Intervals(unittest.TestCase):
    def test_union_merges_overlap_nesting_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_stage_span_is_union_not_sum(self):
        stages = [(100, 300), (150, 250), (400, 500)]     # two concurrent stages
        self.assertEqual(metrics.union_length(stages), 300)
        self.assertEqual(sum(e - s for s, e in stages), 400)

    def test_driver_gap_is_wall_minus_spark_job_cover(self):
        windows = [(0, 10), (20, 30)]
        spark_jobs = [(1, 3), (2, 5), (8, 12), (25, 40)]
        # window 1 covered by [1,5] and [8,10] = 6 → gap 4;
        # window 2 covered by [25,30] = 5 → gap 5
        self.assertEqual(metrics.driver_gap(windows, spark_jobs), 9)
        self.assertEqual(metrics.driver_gap([(0, 10)], []), 10)

    def test_self_time_is_duration_minus_child_cover(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 10},
            {"id": 2, "parent": 1, "start": 1, "end": 4},
            {"id": 3, "parent": 1, "start": 3, "end": 6},
            {"id": 4, "parent": 1, "start": 8, "end": 9},
            {"id": 5, "parent": 2, "start": 2, "end": 3},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 4)    # children cover [1,6] ∪ [8,9]
        self.assertEqual(st[2], 2)    # grandchild covers 1 of 3
        self.assertEqual(st[4], 1)


class ClosedForms(unittest.TestCase):
    """Closed forms against brute force on small shapes, for two seeds."""
    SEEDS = (7, 123456789)

    def full(self, m, n, seed, mod):
        a = np.array([[((i * n + j) * 1103515245 + seed) % 2147483647 % mod
                       for j in range(n)] for i in range(m)], dtype=np.int64)
        np.testing.assert_array_equal(a, w.lcg_block(0, m, n, seed, mod))
        return a

    def test_gemm_row_sums(self):
        for s in self.SEEDS:
            a, b = self.full(37, 37, s, 100), self.full(37, 37, s + 1, 100)
            np.testing.assert_array_equal(w.gemm_row_sums(37, s, s + 1, 100),
                                          (a @ b).sum(axis=1))

    def test_gram_checksums(self):
        for s in self.SEEDS:
            a = self.full(300, 9, s, 1000)
            g = a.T @ a
            self.assertEqual(w.gram_sum_trace(300, 9, s, 1000), (g.sum(), np.trace(g)))

    def test_dag_values_match_stepwise_evaluation(self):
        for s in self.SEEDS:
            rng = random.Random(s)
            deps, sinks = w.layered_dag(rng, levels=6, width=8, fan_in=3)
            consts = [rng.randrange(1, 1 << 30) for _ in deps]
            memo = {}

            def value(k):
                if k not in memo:
                    memo[k] = (sum(value(d) for d in deps[k]) + consts[k]) % 1000000007
                return memo[k]
            self.assertEqual(w.dag_value(deps, consts, sinks), sum(value(k) for k in sinks))
            self.assertTrue(all(k not in d for k in sinks for d in deps))

    def test_chains_and_leaf_kernel(self):
        steps = [3, 1, 4, 1, 5, 9]
        # chain 0: 0→3→94→2918 ; chain 1: 1→32→997→30916
        self.assertEqual(w.chains_value(2, 3, steps), 2918 + 30916)
        v = 5
        for _ in range(3):    # signed 64-bit wrap, then a logical shift
            v = int(np.uint64(v) * np.uint64(6364136223846793005)
                    + np.uint64(1442695040888963407)) >> 1
        self.assertEqual(w.leaf_work(5, 3), v % 1000003)

    def test_plan_is_a_function_of_the_seed(self):
        fx = lambda d: (d, {n: {} for n in w.ORACLE_ENTRIES})
        fixtures = {"prime": fx("p"), "passes": [fx("a"), fx("b")]}
        for wl in w.WORKLOADS:
            a, b = w.plan(wl, 1, fixtures), w.plan(wl, 1, fixtures)
            self.assertEqual(json.dumps(a, sort_keys=True), json.dumps(b, sort_keys=True))
            names = [[j["name"] for j in js] for js in [a["prime"]] + a["passes"]]
            self.assertTrue(all(n == names[0] for n in names))    # one order per run
            c = w.plan(wl, 2, fixtures)
            self.assertNotEqual(names[0], [j["name"] for j in c["passes"][0]])
            if wl == "iterative_dag":     # each pass draws its own matrix seeds
                seeds = {json.dumps(j["params"]) for js in a["passes"] for j in js
                         if j["kind"] == "tsqr"}
                self.assertEqual(len(seeds), 2)


class Digest(unittest.TestCase):
    def test_cells(self):
        self.assertEqual(digest.cell(3.0), "3")
        self.assertEqual(digest.cell(decimal.Decimal("3.00")), "3")
        self.assertEqual(digest.cell(-0.0), "0")
        self.assertEqual(digest.cell(0.1), "f3fb999999999999a")
        self.assertEqual(digest.cell(decimal.Decimal("0.1")), "f3fb999999999999a")
        self.assertEqual(digest.cell(float("nan")), digest.NULL)
        self.assertEqual(digest.cell(None), digest.NULL)
        self.assertEqual(digest.cell(True), "true")
        self.assertEqual(digest.cell(datetime.datetime(1970, 1, 2, 0, 0, 0, 5)), "t86400000005")
        self.assertEqual(digest.cell(datetime.date(1970, 1, 3)), "d2")
        self.assertEqual(digest.cell([1, 2.5]), "[1,f4004000000000000]")

    def test_digest_ignores_row_and_column_order(self):
        a = digest.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = digest.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a["columns"], "a,b")
        self.assertNotEqual(a, digest.digest(["a", "b"], [("y", 2), ("x", 2)]))

    def test_pinned_value_shared_with_scala(self):
        # DigestSpec.scala asserts the same sum for the same rows.
        d = digest.digest(["k", "v", "s"], [(1, 0.5, "a"), (2, None, "b"), (3, 2.0, "")])
        self.assertEqual(d["sum"], PINNED_SUM)


PINNED_SUM = "135284063775739230"


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match_the_benchmark_file(self):
        import run
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.UNITS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual([x["name"] for x in bench["workloads"]], w.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
