"""Unit tests of the harness helpers (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(benchlib.median([7.5]), 7.5)

    def test_median_matches_statistics(self):
        xs = [0.3, 1.7, 0.9, 2.2, 1.1, 0.4]
        self.assertAlmostEqual(benchlib.median(xs), statistics.median(xs))

    def test_p90_interpolates(self):
        xs = list(range(1, 101))  # 100 samples, 10 beyond p90
        self.assertAlmostEqual(benchlib.percentile(xs, 0.9), 90.1)

    def test_p90_needs_ten_samples_beyond_it(self):
        with self.assertRaises(ValueError):
            benchlib.percentile(list(range(99)), 0.9)
        benchlib.percentile(list(range(100)), 0.9)

    def test_empty(self):
        with self.assertRaises(ValueError):
            benchlib.median([])


def job(start, end, layer="sim", span=0, task_s=0.0, max_task_s=0.0,
        shuffle_bytes=0):
    return {"layer": layer, "span": span, "start_ms": start, "end_ms": end,
            "task_s": task_s, "max_task_s": max_task_s,
            "shuffle_bytes": shuffle_bytes}


def span(start, end, layer="sim", ticks=0):
    return {"layer": layer, "name": "x", "start_ms": start, "end_ms": end,
            "wall_s": (end - start) / 1e3, "ticks": ticks}


class DriverTimeTest(unittest.TestCase):
    def test_no_jobs_is_all_driver(self):
        self.assertAlmostEqual(benchlib.driver_s(span(0, 2000), []), 2.0)

    def test_disjoint_jobs(self):
        jobs = [job(100, 200), job(500, 800)]
        self.assertAlmostEqual(benchlib.driver_s(span(0, 1000), jobs), 0.6)

    def test_overlapping_jobs_count_once(self):
        jobs = [job(100, 600), job(400, 900), job(450, 500)]
        self.assertAlmostEqual(benchlib.driver_s(span(0, 1000), jobs), 0.2)

    def test_jobs_clipped_to_span(self):
        jobs = [job(500, 1500), job(1900, 2600)]
        self.assertAlmostEqual(benchlib.driver_s(span(1000, 2000), jobs), 0.4)

    def test_never_negative(self):
        s = {"start_ms": 0, "end_ms": 1000, "wall_s": 0.9}
        self.assertEqual(benchlib.driver_s(s, [job(0, 1000)]), 0.0)


class LayerMetricsTest(unittest.TestCase):
    JVM = {"gc_s": 0.2, "heap_peak_mb": 900.0}

    def test_every_metric_present_and_untouched_layers_zero(self):
        trace = {"spans": [span(0, 2000, ticks=1000)],
                 "jobs": [job(0, 1500, task_s=6.0, max_task_s=1.5,
                              shuffle_bytes=2 ** 21)],
                 "plans": [{"layer": "sim", "span": 0, "plan_s": 0.1}],
                 "jvm": self.JVM}
        m = benchlib.layer_metrics(trace, 4, 0.3)
        self.assertEqual(set(m), set(benchlib.per_layer_units()))
        self.assertEqual(len(m), 126)
        self.assertAlmostEqual(m["sim.driver_s"], 0.5)
        self.assertAlmostEqual(m["sim.core_util"], 0.75)
        self.assertAlmostEqual(m["sim.shuffle_mb"], 2.0)
        self.assertAlmostEqual(m["sim.plan_s"], 0.1)
        self.assertEqual(m["sim.ticks"], 1000)
        self.assertEqual(m["sim.jobs"], 1)
        self.assertEqual(m["text.jobs"], 0)

    def test_jobs_charged_to_another_layer_move_their_wall_time(self):
        # A 10 s backtest span: 1 s driver-only, a 4 s serve job, two
        # overlapping backtest jobs covering 5 s.
        trace = {"spans": [span(0, 10000, layer="backtest")],
                 "jobs": [job(1000, 5000, layer="serve", task_s=3.0),
                          job(5000, 9000, layer="backtest", task_s=2.0),
                          job(8000, 10000, layer="backtest", task_s=1.0)],
                 "plans": [{"layer": "serve", "span": 0, "plan_s": 0.2}],
                 "jvm": self.JVM}
        m = benchlib.layer_metrics(trace, 4, 0.0)
        self.assertAlmostEqual(m["serve.wall_s"], 4.0)
        self.assertAlmostEqual(m["backtest.wall_s"], 6.0)
        self.assertAlmostEqual(m["backtest.driver_s"], 1.0)
        self.assertAlmostEqual(m["serve.driver_s"], 0.0)
        self.assertEqual((m["backtest.jobs"], m["serve.jobs"]), (2, 1))
        self.assertAlmostEqual(m["serve.task_s"], 3.0)
        self.assertAlmostEqual(m["serve.plan_s"], 0.2)
        self.assertEqual(m["sim.jobs"], 0)

    def test_unknown_layer_is_an_error(self):
        trace = {"spans": [span(0, 10, layer="nope")], "jobs": [], "plans": [],
                 "jvm": self.JVM}
        with self.assertRaises(ValueError):
            benchlib.layer_metrics(trace, 4, 0.0)


class QueryLayerTest(unittest.TestCase):
    def test_layers_are_known(self):
        self.assertTrue(set(benchlib.QUERY_PREFIX_LAYER.values()) <= set(benchlib.LAYERS))

    def test_prefixes_unique_and_complete(self):
        prefixes = [p for ps in benchlib._BY_LAYER.values() for p in ps.split()]
        self.assertEqual(len(prefixes), len(set(prefixes)))
        self.assertEqual(sorted(prefixes), sorted(f"q{i:02d}" for i in range(1, 103)))

    def test_run_order(self):
        names = ["q10_b", "q02_a", "q99_c"]
        self.assertEqual(benchlib.run_order(names, 0), sorted(names))
        self.assertEqual(benchlib.run_order(names, 5), benchlib.run_order(names, 5))
        self.assertEqual(sorted(benchlib.run_order(names, 5)), sorted(names))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write_star_schema(os.path.join(d, "a"), seed=3, scale=0.01)
            gen_tables.write_star_schema(os.path.join(d, "b"), seed=3, scale=0.01)
            gen_tables.write_events(os.path.join(d, "c"), seed=4, rows=500, users=20)
            gen_tables.write_events(os.path.join(d, "d"), seed=5, rows=500, users=20)
            for t in os.listdir(os.path.join(d, "a")):
                with open(os.path.join(d, "a", t), "rb") as x, \
                        open(os.path.join(d, "b", t), "rb") as y:
                    self.assertEqual(x.read(), y.read(), t)
            self.assertEqual(len(os.listdir(os.path.join(d, "a"))), 10)
            with open(os.path.join(d, "c", "events.parquet"), "rb") as x, \
                    open(os.path.join(d, "d", "events.parquet"), "rb") as y:
                self.assertNotEqual(x.read(), y.read())


    def test_events_feed_passes_the_quality_gate(self):
        # Seed 1863413696 drew values the gate refused before the floor.
        half_spread, max_spread_pct = 0.005, 5.0
        with tempfile.TemporaryDirectory() as d:
            for seed in (0, 1863413696):
                out = os.path.join(d, str(seed))
                gen_tables.write_events(out, seed)
                mid = pq.read_table(os.path.join(out, "events.parquet"))["value"].to_numpy()
                bid = mid - half_spread
                self.assertTrue((bid > 0).all())
                self.assertLessEqual((2 * half_spread / bid * 100).max(), max_spread_pct)


class CheckOpsTest(unittest.TestCase):
    TICKRUN = "scenarios=40;ticks=100;errors=0;trades=3;pnl=1.00"

    def lap(self, kind="measure", mounted="100", tickrun=TICKRUN, sweep=None):
        ops = [{"name": "warmup", "digest": f"mounted={mounted}", "error": ""},
               {"name": "tickrun", "digest": tickrun, "error": ""}]
        if sweep:
            ops = [{"name": "sweep", "digest": sweep, "error": ""}]
        return {"kind": kind, "ops": ops}

    def failed(self, laps, golden=None):
        run.check_ops(laps, golden or {})
        return [o["name"] for lap in laps for o in lap["ops"] if not o["ok"]]

    def test_consistent_run_passes_without_golden(self):
        self.assertEqual(self.failed([self.lap(), self.lap("baseline")]), [])

    def test_kernel_invariants_hold_for_every_seed(self):
        bad = [self.TICKRUN.replace("scenarios=40", "scenarios=39"),
               self.TICKRUN.replace("errors=0", "errors=2"),
               self.TICKRUN.replace("ticks=100", "ticks=99")]
        for digest in bad:
            self.assertEqual(self.failed([self.lap(tickrun=digest)]), ["tickrun"], digest)

    def test_sweep_must_rank_every_combination(self):
        self.assertEqual(self.failed([self.lap(sweep="rows=9;sha=ab")]), [])
        self.assertEqual(self.failed([self.lap(sweep="rows=8;sha=ab")]), ["sweep"])

    def test_digest_must_match_golden_and_other_laps(self):
        other = self.TICKRUN.replace("pnl=1.00", "pnl=2.00")
        self.assertEqual(self.failed([self.lap(), self.lap("baseline", tickrun=other)]),
                         ["tickrun"])
        self.assertEqual(self.failed([self.lap()], {"tickrun": other}), ["tickrun"])

    def test_probe_held_to_its_entry_point(self):
        laps = [self.lap(sweep="rows=9;sha=ab"),
                {"kind": "probe", "ops": [
                    {"name": "sweep_probe", "digest": "rows=9;sha=cd", "error": ""},
                    {"name": "mount_probe", "digest": "", "error": "differs"}]}]
        self.assertEqual(self.failed(laps), ["sweep_probe", "mount_probe"])


class HeapTest(unittest.TestCase):
    def test_tier1_formula(self):
        self.assertEqual(benchlib.heap_size("MemTotal:       15728640 kB\n"), "7g")
        self.assertEqual(benchlib.heap_size("MemTotal: 2097152 kB\n"), "2g")
        self.assertEqual(benchlib.heap_size("MemTotal: 67108864 kB\n"), "8g")


if __name__ == "__main__":
    unittest.main()
