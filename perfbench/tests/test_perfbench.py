"""Tests of the benchmark's own pieces: the seeded generators, the
percentile rule and the metric naming rules.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH_DIR = HERE.parent
sys.path.insert(0, str(BENCH_DIR))

import gen  # noqa: E402
import stats  # noqa: E402


class YouBikeTicksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.ticks, cls.truth = gen.youbike_ticks(seed=5, n_ticks=7, n_stations=200)

    def records(self, i):
        return [json.loads(r) for r in self.ticks[i]]

    def test_same_seed_same_inputs(self):
        again, truth = gen.youbike_ticks(seed=5, n_ticks=7, n_stations=200)
        self.assertEqual(again, self.ticks)
        self.assertEqual(truth, self.truth)
        other, _ = gen.youbike_ticks(seed=6, n_ticks=7, n_stations=200)
        self.assertNotEqual(other, self.ticks)

    def test_batch_result_counts_distinct_keys_and_new_stations(self):
        seen = set()
        for i, t in enumerate(self.truth["ticks"]):
            recs = self.records(i)
            keys = {(r["sno"], r["srcUpdateTime"]) for r in recs}
            new = {r["sno"] for r in recs} - seen
            seen |= new
            self.assertEqual(t["facts"], len(keys))
            self.assertEqual(t["dims"], len(new))
            self.assertEqual(t["replayed"], len(recs) - len(keys))

    def test_replays_and_new_stations_are_planted(self):
        per = self.truth["ticks"]
        self.assertTrue(all(t["replayed"] > 0 for t in per))
        self.assertEqual(per[0]["dims"], 200)
        self.assertGreater(sum(t["dims"] for t in per[1:]), 0)

    def test_keys_never_repeat_across_ticks(self):
        all_keys = [{(r["sno"], r["srcUpdateTime"]) for r in self.records(i)}
                    for i in range(len(self.ticks))]
        self.assertEqual(sum(len(k) for k in all_keys), len(set().union(*all_keys)))

    def test_malformed_fields_are_counted_as_nulls(self):
        nulls = 0
        for i, t in enumerate(self.truth["ticks"]):
            distinct = {r["sno"]: r for r in self.records(i)}.values()
            bad = sum(isinstance(r["available_rent_bikes"], str) for r in distinct)
            self.assertEqual(t["null_bikes"], bad)
            nulls += bad + t["null_spaces"] + t["null_total_spaces"]
        self.assertGreater(nulls, 0)

    def test_record_times_shift_eight_hours_to_utc(self):
        fmt = "%Y-%m-%d %H:%M:%S"
        first = min(r["srcUpdateTime"] for r in self.records(0))
        utc = datetime.datetime.strptime(self.truth["ticks"][0]["min_utc"], fmt)
        self.assertEqual(datetime.datetime.strptime(first, fmt) - utc, datetime.timedelta(hours=8))


class TablesTest(unittest.TestCase):
    def test_tables_are_seeded_and_typed(self):
        a, b = gen.tables(3, 0.001), gen.tables(3, 0.001)
        self.assertEqual(sorted(a), sorted(gen.TABLES))
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(gen.tables(4, 0.001)["lineitem"]))
        self.assertEqual(str(a["events"].schema.field("ts").type), "timestamp[us]")
        self.assertEqual(a["lineitem"].num_rows, 6000)

    def test_written_as_one_row_group_per_table(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(Path(d), 1, 0.001)
            for name in gen.TABLES:
                self.assertEqual(pq.ParquetFile(f"{d}/{name}.parquet").num_row_groups, 1)


class PercentileRuleTest(unittest.TestCase):
    def test_ten_samples_beyond_p90_needs_one_hundred(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertTrue(stats.tail_resolved(100, 0.9))
        self.assertFalse(stats.tail_resolved(99, 0.9))
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(15, 0.9), 1)

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 9.1)
        self.assertEqual(stats.percentile([3.0], 0.9), 3.0)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        self.bench = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())

    def test_pattern(self):
        self.assertTrue(stats.valid_name("spark.shuffle_read_mb"))
        self.assertTrue(stats.valid_name("op_p50_s"))
        self.assertFalse(stats.valid_name(".hidden"))
        self.assertFalse(stats.valid_name("a b"))
        self.assertFalse(stats.valid_name("x" * 65))
        self.assertTrue(stats.valid_unit("count/op"))
        self.assertFalse(stats.valid_unit("s per op"))

    def test_benchmark_names_and_units(self):
        metrics = self.bench["end_to_end"] + self.bench["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertTrue(stats.valid_name(m["name"]), m["name"])
            self.assertTrue(stats.valid_unit(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("lower", "higher"))
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in self.bench["end_to_end"])},
                      self.bench["end_to_end"])

    def test_every_workload_is_defined(self):
        import run
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
