"""The benchmark's own tests: seeded generation is deterministic, the tail
percentile and the median-pass total follow their rules, the fingerprint
sees content and not order, and BENCHMARK.json agrees with the metric
lists the runner prints.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import duckdb
import numpy as np
import pyarrow as pa

import gen
import run
import stats

PACKS = {"A": ["a1", "a2", "a3"], "B": ["b1"], "C": ["c1", "c2", "c3", "c4"],
         "D": ["d1", "d2"]}
COSTS = {"a1": 0.1, "a2": 0.2, "a3": 2.0, "b1": 0.15, "c1": 0.05, "c2": 0.3,
         "c3": 0.9, "c4": 1.5, "d1": 0.4}  # d2 has no cost: counts as the median


class Determinism(unittest.TestCase):

    def test_key_gaps_repeat_per_seed(self):
        a, b = gen.bulk_keep_mask(7, 150_000), gen.bulk_keep_mask(7, 150_000)
        self.assertTrue(np.array_equal(a, b))
        self.assertFalse(np.array_equal(a, gen.bulk_keep_mask(8, 150_000)))

    def test_key_gaps_are_scattered_plus_holes(self):
        keep = gen.bulk_keep_mask(3, 150_000)
        dropped = 1 - keep.mean()
        self.assertGreater(dropped, 0.10)
        self.assertLess(dropped, 0.35)
        # at least one contiguous hole of 2,000 keys or more
        runs, longest = 0, 0
        for k in keep:
            runs = 0 if k else runs + 1
            longest = max(longest, runs)
        self.assertGreaterEqual(longest, 2000)

    def test_bulk_range_count_depends_only_on_key_count(self):
        # The runner cuts (min - 1, max] into 5,000-key ranges: with the
        # first and last keys kept, every seed gives six ranges of 30,000.
        for seed in range(20):
            keep = gen.bulk_keep_mask(seed, 30_000)
            self.assertTrue(keep[0] and keep[-1], seed)
            self.assertGreater(keep.mean(), 0.6, seed)

    def test_bulk_source_is_a_seeded_slice(self):
        base = gen.orders_table(np.random.default_rng(0), 1_000, 10)
        a, b = gen.bulk_source(4, base, 600), gen.bulk_source(4, base, 600)
        self.assertTrue(a.equals(b))
        keys = a.column("o_orderkey").to_numpy()
        self.assertEqual((keys.min(), keys.max()), (0, 599))
        self.assertLess(a.num_rows, 600)

    def test_sync_plan_repeats_per_seed(self):
        b1, a1, s1 = gen.sync_plan(11, 40, 20_000, 15_000)
        b2, a2, s2 = gen.sync_plan(11, 40, 20_000, 15_000)
        self.assertEqual(s1, s2)
        self.assertTrue(b1.equals(b2))
        self.assertTrue(a1.equals(a2))
        self.assertNotEqual(s1, gen.sync_plan(12, 40, 20_000, 15_000)[2])

    def test_sync_appends_extend_the_key_space(self):
        base, appends, sizes = gen.sync_plan(5, 60, 20_000, 15_000)
        self.assertEqual(appends.num_rows, sum(sizes))
        self.assertIn(0, sizes)
        keys = appends.column("o_orderkey").to_numpy()
        self.assertGreater(keys.min(), base.column("o_orderkey").to_numpy().max())
        self.assertTrue((np.diff(keys) > 0).all())
        batches = appends.column("batch").to_numpy()
        self.assertEqual(sorted(set(batches)), [i for i, k in enumerate(sizes) if k])

    def test_query_sample_and_order_repeat_per_seed(self):
        s1 = gen.query_sample(21, PACKS, COSTS, 5)
        self.assertEqual(s1, gen.query_sample(21, PACKS, COSTS, 5))
        self.assertEqual(len(s1), 5)
        self.assertEqual(len(set(s1)), 5)
        self.assertEqual(gen.run_order(3, s1), gen.run_order(3, s1))
        self.assertEqual(sorted(gen.run_order(3, s1)), sorted(s1))
        orders = {tuple(gen.run_order(s, s1)) for s in range(10)}
        self.assertGreater(len(orders), 1)

    def test_query_sample_covers_every_pack(self):
        pack_of = {q: p for p, qs in PACKS.items() for q in qs}
        for seed in range(30):
            sample = gen.query_sample(seed, PACKS, COSTS, 4)
            self.assertEqual({pack_of[q] for q in sample}, set(PACKS), seed)

    def test_query_sample_takes_one_per_cost_stratum(self):
        ranked = ["c1", "a1", "b1", "a2", "c2", "d2", "d1", "c3", "c4", "a3"]
        for seed in range(10):
            sample = gen.query_sample(seed, PACKS, COSTS, 5)
            strata = sorted(ranked.index(q) // 2 for q in sample)
            self.assertEqual(strata, [0, 1, 2, 3, 4], sample)

    def test_tables_repeat(self):
        t1, t2 = gen.tables(0.01), gen.tables(0.01)
        for name in t1:
            self.assertTrue(t1[name].equals(t2[name]), name)


class Tail(unittest.TestCase):

    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.tail(xs), (30, 75))
        self.assertEqual(stats.tail(list(reversed(xs))), (30, 75))

    def test_tail_of_twenty_one(self):
        self.assertEqual(stats.tail(list(range(21))), (10, 52))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100))
        self.assertEqual(stats.tail(list(range(20))), (19, 100))

    def test_tail_of_hundred(self):
        self.assertEqual(stats.tail(list(range(100))), (89, 90))


class MedianPassTotal(unittest.TestCase):

    def test_sums_each_steps_median(self):
        passes = [[1.0, 5.0, 2.0], [3.0, 1.0, 2.0], [2.0, 2.0, 9.0]]
        self.assertEqual(stats.median_pass_total(passes), 2.0 + 2.0 + 2.0)

    def test_one_slow_step_per_pass_is_left_out(self):
        steady = [[1.0, 1.0, 1.0]] * 3
        burst = [[4.0, 1.0, 1.0], [1.0, 4.0, 1.0], [1.0, 1.0, 4.0]]
        self.assertEqual(stats.median_pass_total(burst), stats.median_pass_total(steady))

    def test_only_steps_every_pass_reached_count(self):
        self.assertEqual(stats.median_pass_total([[1.0, 2.0], [1.0]]), 1.0)
        self.assertEqual(stats.median_pass_total([]), 0.0)


class Fingerprint(unittest.TestCase):

    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        rng = np.random.default_rng(0)
        self.t = gen.orders_table(rng, 50, 10)

    def fp(self, table):
        self.con.register("t", table)
        return stats.fingerprint(self.con, "t")

    def test_order_does_not_matter(self):
        shuffled = self.t.take(pa.array(np.random.default_rng(1).permutation(50)))
        self.assertEqual(self.fp(self.t), self.fp(shuffled))

    def test_changed_value_is_seen(self):
        prices = self.t.column("o_totalprice").to_pylist()
        prices[7] += 0.01
        changed = self.t.set_column(3, "o_totalprice", pa.array(prices))
        self.assertNotEqual(self.fp(self.t), self.fp(changed))

    def test_duplicate_in_place_of_missing_row_is_seen(self):
        idx = list(range(50))
        idx[3] = 4
        self.assertNotEqual(self.fp(self.t), self.fp(self.t.take(pa.array(idx))))

    def test_timestamp_unit_does_not_matter(self):
        ms = self.t.set_column(4, "o_orderdate",
                               self.t.column("o_orderdate").cast(pa.timestamp("ms")))
        self.assertEqual(self.fp(self.t), self.fp(ms))


class Spec(unittest.TestCase):

    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.E2E)
        layers = run.layer_map()["per_layer"]
        self.assertEqual([{k: m[k] for k in ("name", "unit", "better")} for m in layers],
                         bench["per_layer"])


if __name__ == "__main__":
    unittest.main()
