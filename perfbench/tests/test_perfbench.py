"""Tests of the benchmark's own arithmetic, generator and sampler.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.supported_percentile(10))
        self.assertIsNone(stats.supported_percentile(19))
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertEqual(stats.supported_percentile(39), 50)
        self.assertEqual(stats.supported_percentile(40), 75)
        self.assertEqual(stats.supported_percentile(99), 75)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(200), 95)
        self.assertEqual(stats.supported_percentile(1000), 99)

    def test_ten_samples_lie_beyond_the_chosen_rank(self):
        for n in range(20, 1200, 7):
            p = stats.supported_percentile(n)
            xs = list(range(n))
            v = stats.nearest_rank(xs, p)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, (n, p))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.nearest_rank(xs, 50), 3)
        self.assertEqual(stats.nearest_rank(xs, 90), 5)
        self.assertEqual(stats.nearest_rank([7], 99), 7)


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([(1, 0, 0.0, 10.0)]), {1: 10.0})

    def test_nested_children_subtract_once(self):
        # op [0,100) > build [0,30) > job [5,25); execute [40,90) > job [50,60)
        spans = [(1, 0, 0, 100), (2, 1, 0, 30), (3, 2, 5, 25),
                 (4, 1, 40, 90), (5, 4, 50, 60)]
        t = stats.self_times(spans)
        self.assertEqual(t, {1: 20, 2: 10, 3: 20, 4: 40, 5: 10})
        self.assertEqual(sum(t.values()), 100)

    def test_overlapping_children_count_their_union(self):
        # two concurrent stages [10,40) and [30,60) under a job [0,100)
        t = stats.self_times([(1, 0, 0, 100), (2, 1, 10, 40), (3, 1, 30, 60)])
        self.assertEqual(t[1], 50)

    def test_children_outside_the_parent_are_clipped(self):
        t = stats.self_times([(1, 0, 10, 20), (2, 1, 5, 15), (3, 1, 18, 30)])
        self.assertEqual(t[1], 3)

    def test_covered_by_descendant_layer(self):
        spans = [(1, 0, 0, 100), (2, 1, 0, 50), (3, 2, 10, 20), (4, 2, 15, 30)]
        layer = {1: "execute", 2: "job", 3: "stage", 4: "stage"}
        self.assertEqual(stats.covered(spans, 1, layer, "stage", 0, 100), 20)


class Generator(unittest.TestCase):
    def _gen(self, d, seed):
        gen.tables(os.path.join(d, "t"), seed, sf=0.002)
        gen.event_parts(os.path.join(d, "s"), seed, rows=5000, files=5)
        gen.landing_csvs(os.path.join(d, "l"), seed, sf=0.002)
        return sorted(os.path.join(dp, n) for dp, _, ns in os.walk(d) for n in ns)

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            fa, fb, fc = self._gen(a, 11), self._gen(b, 11), self._gen(c, 12)
            self.assertEqual([os.path.relpath(f, a) for f in fa],
                             [os.path.relpath(f, b) for f in fb])
            self.assertEqual(len(fa), 10 + 5 + 3 * gen.LANDING_PARTS)
            for x, y in zip(fa, fb):
                self.assertTrue(filecmp.cmp(x, y, shallow=False), x)
            self.assertFalse(all(filecmp.cmp(x, y, shallow=False) for x, y in zip(fa, fc)))

    def test_stream_parts_are_ordered_by_mtime_and_event_time(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.event_parts(d, 3, rows=1000, files=4)
            p = os.path.join(d, "events.parquet")
            parts = sorted(os.listdir(p), key=lambda n: os.path.getmtime(os.path.join(p, n)))
            ts = [t for n in parts for t in pq.read_table(os.path.join(p, n))["ts"].to_pylist()]
            self.assertEqual(len(ts), 1000)
            self.assertEqual(ts, sorted(ts))
            self.assertGreaterEqual((ts[-1] - ts[-2]).days, 1)

    def test_landing_csvs_carry_the_feed_dirty_value_mix(self):
        import pyarrow.csv as pcsv
        import pyarrow as pa
        with tempfile.TemporaryDirectory() as d:
            rows = gen.landing_csvs(d, 5, sf=0.002)

            def read(name):
                p = os.path.join(d, name)
                # an empty unquoted field is a null, as Spark's CSV reader takes it
                text = pcsv.ConvertOptions(column_types={"creation_time_utc": pa.string()},
                                           strings_can_be_null=True)
                return pa.concat_tables(pcsv.read_csv(os.path.join(p, n), convert_options=text)
                                        for n in sorted(os.listdir(p))).to_pylist()
            items = read("order_items")
            self.assertEqual(len(items), rows["order_items"])
            self.assertEqual(len(items), 12_000)
            for r in items:
                ok = int(r["order_id"])
                if ok % 37 == 0:
                    self.assertIsNone(r["item_price"])
                elif ok % 31 == 0:
                    self.assertEqual(r["item_price"], 0.0)
                self.assertEqual(r["item_quantity"] is None, ok % 41 == 0)
                self.assertRegex(r["creation_time_utc"], r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d$")
            self.assertTrue(any(r["user_id"] is None for r in items))
            self.assertTrue(any(r["item_name"] is None for r in items))
            options = read("order_item_options")
            self.assertEqual(len(options), rows["order_item_options"])
            self.assertTrue(all(int(r["lineitem_id"].split("-")[1]) % 4 == 0 for r in options))
            self.assertTrue(any(r["option_price"] == -1.5 for r in options))
            dates = read("date_dim")
            self.assertEqual(len({r["date_key"] for r in dates}), len(dates))
            # 1995-01-01 was a Sunday and a holiday
            first = next(r for r in dates if r["date_key"] == "01-01-1995")
            self.assertTrue(first["is_weekend"] and first["is_holiday"])


def families():
    """[(family, [query names with an oracle])], in `SparkEntry.defGroups`
    order, as the harness reports them for the current build."""
    import json
    import subprocess
    import build
    import run
    build.build()
    plan = os.path.join(run.WORK, "families-plan.json")
    out = os.path.join(run.WORK, "families-out.json")
    with open(plan, "w") as f:
        json.dump({"workload": "families"}, f)
    subprocess.run(run.jvm_cmd([plan, out]), cwd=run.ROOT, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)
    with open(out) as f:
        return [[g["family"], [q["name"] for q in g["queries"] if q["oracle"]]]
                for g in json.load(f)]


class Sampler(unittest.TestCase):
    def test_stratified_sample_covers_every_family(self):
        import json
        import run
        fams = dict(families())
        self.assertEqual(len(fams), 22)
        # every family is sampled by the session or driven by a workload
        # that BENCHMARK.json lists
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            listed = {w["name"] for w in json.load(f)["workloads"]}
        self.assertIn("query_session", listed)
        self.assertEqual(set(run.POOLS) | set(run.OTHER_WORKLOAD_FAMILIES), set(fams))
        self.assertEqual(set(run.POOLS) & set(run.OTHER_WORKLOAD_FAMILIES), set())
        self.assertLessEqual(set(run.OTHER_WORKLOAD_FAMILIES.values()), listed)
        for fam, pool in run.POOLS.items():
            self.assertTrue(pool)
            self.assertLessEqual(set(pool), set(fams[fam]), fam)
        for seed in range(20):
            sample = run.stratified_sample(seed)
            self.assertEqual(len(sample), len(run.POOLS))
            for pool, q in zip(run.POOLS.values(), sample):
                self.assertIn(q, pool)
        self.assertNotEqual(run.stratified_sample(1), run.stratified_sample(2))

    def test_round_orders_are_permutations(self):
        import run
        orders = run.round_orders(["a", "b", "c", "d"], 5, 6)
        self.assertEqual(len(orders), 6)
        for o in orders:
            self.assertEqual(sorted(o), ["a", "b", "c", "d"])
        self.assertEqual(orders, run.round_orders(["a", "b", "c", "d"], 5, 6))


if __name__ == "__main__":
    unittest.main()
