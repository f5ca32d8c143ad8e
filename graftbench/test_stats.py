"""Tests of the benchmark's own statistics: python3 -m unittest discover -s graftbench"""

import unittest

import stats


def call(i, name, kind, rnd, dur, op=None, traced=False, written=0, extra=None):
    return {"id": i, "op": op or f"cycle-{i}", "name": name, "kind": kind, "round": rnd,
            "dur_s": dur, "bytes_written": written, "gc_s": 0.0, "traced": traced,
            "extra": extra or {}}


def record(calls, rounds, prefix):
    return {"session_s": 1.0, "setup_builds_s": [5.0, 2.0, 3.0], "warmup_s": 4.0,
            "calls": calls, "rounds": rounds, "prefix_rounds": prefix,
            "layout": {"data_files": 6, "leaves": 4, "disk_bytes": 300, "live_bytes": 200}}


class QuantileTest(unittest.TestCase):
    def test_nearest_rank_returns_a_sample(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.quantile(xs, 0.5), 3.0)
        self.assertEqual(stats.quantile(xs, 0.2), 1.0)
        self.assertEqual(stats.quantile(xs, 0.21), 2.0)
        self.assertEqual(stats.quantile(xs, 1.0), 5.0)

    def test_even_count_median_is_the_lower_middle(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.0)

    def test_monotone_in_p_on_one_sample_set(self):
        xs = [0.3, 0.1, 0.9, 0.4, 0.4, 0.2, 0.8]
        qs = [stats.quantile(xs, p / 100) for p in range(1, 101)]
        self.assertEqual(qs, sorted(qs))
        self.assertGreaterEqual(stats.quantile(xs, 0.9), stats.median(xs))

    def test_rejects_empty_sample_and_bad_p(self):
        with self.assertRaises(ValueError):
            stats.quantile([], 0.5)
        with self.assertRaises(ValueError):
            stats.quantile([1.0], 0.0)
        with self.assertRaises(ValueError):
            stats.quantile([1.0], 1.5)


class EndToEndTest(unittest.TestCase):
    def setUp(self):
        calls = [
            call(0, "W", "write", 0, 2.0, op="cycle-1", written=100),
            call(1, "R", "read", 0, 0.5, op="cycle-1"),
            call(2, "W", "write", 0, 4.0, op="cycle-2", written=100),
            call(3, "M", "maint", 0, 1.0, op="maint-0", written=50),
            call(4, "W", "write", 1, 3.0, op="cycle-3", written=100),
            call(5, "R", "read", 1, 0.1, op="cycle-3"),
            call(6, "M", "maint", 1, 3.0, op="maint-1", written=999),
        ]
        rounds = [{"round": 0, "traced": 0, "rows": 10.0, "user_bytes": 125.0, "heap_after_gc_mb": 7.0},
                  {"round": 1, "traced": 0, "rows": 4.0, "user_bytes": 50.0, "heap_after_gc_mb": 9.0}]
        self.m = stats.end_to_end(record(calls, rounds, prefix=1))

    def test_every_metric_has_a_unit(self):
        self.assertEqual(set(self.m), set(stats.E2E_UNITS))

    def test_setup_is_session_plus_median_build_plus_warmup(self):
        self.assertEqual(self.m["setup_s"], 1.0 + 3.0 + 4.0)

    def test_rates_and_medians(self):
        self.assertAlmostEqual(self.m["rows_per_s"], 14.0 / 13.6)
        self.assertEqual(self.m["write_p50_s"], 3.0)
        self.assertEqual(self.m["read_p50_s"], 0.1)
        self.assertEqual(self.m["cycle_p50_s"], 3.1)
        self.assertEqual(self.m["maint_s"], 1.0)

    def test_counts_come_from_the_prefix_only(self):
        self.assertEqual(self.m["write_amp"], 250 / 125)
        self.assertEqual(self.m["heap_peak_mb"], 7.0)
        self.assertEqual(self.m["space_amp"], 1.5)
        self.assertEqual(self.m["files_per_leaf"], 1.5)


class PerLayerTest(unittest.TestCase):
    def test_layers_attribution_and_overhead(self):
        calls = [
            call(0, "Snapshots.mergeByKey", "write", 0, 2.0, traced=True,
                 extra={"files_added": 3, "files_removed": 1, "delta_rows": 10}),
            call(1, "Mv.refresh", "other", 0, 1.0, traced=True, extra={"incremental": 1.0}),
            call(2, "Snapshots.mergeByKey", "write", 1, 1.0),
            call(3, "Snapshots.mergeByKey", "write", 2, 9.0, traced=True),
        ]
        rec = record(calls, [{"round": 0, "traced": 1, "rows": 30.0},
                             {"round": 1, "traced": 0, "rows": 12.0},
                             {"round": 2, "traced": 1, "rows": 0.0}], prefix=2)
        rec["call_spark"] = {"0": {"jobs": 4, "tasks": 9, "driver_gap_s": 0.5,
                                   "output_records": 25, "shuffle_bytes": 7},
                             "1": {"jobs": 2, "tasks": 3, "driver_gap_s": 0.2}}
        m = stats.per_layer(rec)
        self.assertEqual(set(m), set(stats.PER_LAYER_UNITS))
        self.assertEqual(m["Snapshots.mergeByKey.calls"], 1)
        self.assertEqual(m["Snapshots.mergeByKey.jobs"], 4)
        self.assertEqual(m["Snapshots.mergeByKey.files_added"], 3)
        self.assertEqual(m["Snapshots.mergeByKey.rows_rewritten_per_delta_row"], 2.5)
        self.assertEqual(m["Mv.refresh.incremental_frac"], 1.0)
        self.assertEqual(m["Migrate.migrateRange.calls"], 0)
        self.assertEqual(m["Migrate.migrateRange.files_written"], 0.0)
        self.assertEqual(m["spark.jobs"], 6)
        # traced rounds 0 and 2 ran 30 rows in 12 s, untraced round 1 ran 12 in 1 s
        self.assertAlmostEqual(m["trace.overhead_frac"], 1.0 - (30 / 12) / 12)


if __name__ == "__main__":
    unittest.main()
