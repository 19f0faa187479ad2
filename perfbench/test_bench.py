"""Tests of the benchmark's own logic: the tail rule, the seeded inputs and
their closed-form outputs, and span self times.

    python3 perfbench/test_bench.py
"""

import decimal
import json
import math
import os
import struct
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import plan as plans  # noqa: E402


class TailRule(unittest.TestCase):
    def test_no_samples(self):
        self.assertIsNone(metrics.tail([]))

    def test_ten_beyond(self):
        vals = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(metrics.tail(vals), (90, 90.0, 100))
        v, pct, n = metrics.tail(list(range(1, 41)))
        self.assertEqual((v, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(1 for x in range(1, 41) if x > v), 10)

    def test_small_samples_fall_back_to_median(self):
        vals = [5.0, 1.0, 3.0, 2.0, 4.0, 6.0]
        self.assertEqual(metrics.tail(vals), (3.5, 50.0, 6))
        self.assertEqual(metrics.tail(list(range(1, 21))), (10.5, 50.0, 20))

    def test_first_percentile_above_median(self):
        v, pct, n = metrics.tail(list(range(1, 22)))
        self.assertEqual((v, n), (11, 21))
        self.assertGreater(pct, 50.0)


class ExpectedStats(unittest.TestCase):
    # UdbfFixtures' documented closed forms: ch_a = frame % 10,
    # ch_b = (frame % 4) * 0.5, ch_c = 2.5
    FIXTURE = [dict(name="ch_a", base=0.0, step=1.0, period=10),
               dict(name="ch_b", base=0.0, step=0.5, period=4),
               dict(name="ch_c", base=2.5, step=0.0, period=1)]

    def test_udbf_fixture_closed_forms(self):
        got = [plans.channel_stats(c["base"], c["step"], c["period"]) for c in self.FIXTURE]
        self.assertEqual(got, [(4.5, 0.0, 9.0), (0.75, 0.0, 1.5), (2.5, 2.5, 2.5)])

    def test_fixture_csv_matches_reference_format(self):
        f = dict(channels=self.FIXTURE)
        self.assertEqual(plans.expected_csv(f),
                         "Sensor,Mean,Minimum,Maximum\n"
                         "ch_a,4.5,0.0,9.0\nch_b,0.75,0.0,1.5\nch_c,2.5,2.5,2.5\n")
        self.assertEqual(plans.expected_fields(f)["ch_b:mean"], "0.75")

    @staticmethod
    def brute(f, c):
        """Stats over the frames the pipeline keeps, as float32 samples,
        rounded half-up to 3 decimals like round(x, 3) in Spark."""
        def f32(x):
            return struct.unpack("<f", struct.pack("<f", x))[0]
        vals = [f32(c["base"] + (i % c["period"]) * c["step"])
                for i in range(f["warmup_frames"], f["frames"])]

        def r3(x):
            return float(decimal.Decimal(x).quantize(decimal.Decimal("0.001"),
                                                     rounding=decimal.ROUND_HALF_UP))
        return r3(math.fsum(vals) / len(vals)), r3(min(vals)), r3(max(vals))

    def test_plan_closed_forms_match_brute_force(self):
        for wl in plans.WORKLOADS:
            p = plans.make(wl, 7, 10)
            seen = set()
            for f in p["files"] + p["warmup"]:
                if f["kind"] == "corrupt" or (f["group"], f["kind"]) in seen:
                    continue
                seen.add((f["group"], f["kind"]))
                for c in f["channels"]:
                    self.assertEqual(self.brute(f, c),
                                     plans.channel_stats(c["base"], c["step"], c["period"]),
                                     (wl, f["name"], c))

    def test_every_period_divides_the_kept_frames(self):
        for g, shape in plans.SHAPES.items():
            warm = int(shape["rate"] * plans.WARMUP_S)
            for per in shape["periods"]:
                self.assertEqual(shape["frames"] % per, 0, g)
                self.assertEqual(warm % per, 0, g)


class Plans(unittest.TestCase):
    def test_seeded(self):
        self.assertEqual(plans.make("lpi_live", 3, 20), plans.make("lpi_live", 3, 20))
        self.assertNotEqual(plans.make("lpi_live", 3, 20), plans.make("lpi_live", 4, 20))

    def test_mix_is_fixed_per_seed(self):
        for seed in (1, 2, 3):
            files = plans.make("lpi_live", seed, 30)["files"]
            for g in plans.SHAPES:
                kinds = [f["kind"] for f in files if f["group"] == g]
                self.assertEqual(kinds.count("cut"), round(len(kinds) * plans.CUT_SHARE))
                self.assertEqual(kinds.count("corrupt"), round(len(kinds) * plans.CORRUPT_SHARE))
            self.assertEqual(len({f["name"] for f in files}), len(files))

    def test_cut_names_are_off_the_ten_minute_grid(self):
        for f in plans.make("lpi_live", 5, 30)["files"]:
            hhmmss = f["name"].rsplit("_", 1)[1][:-len(".dat")]
            aligned = hhmmss[4] == "0" and hhmmss[6:] == "00"
            self.assertEqual(aligned, f["kind"] != "cut", f["name"])

    def test_arrivals_inside_the_window_and_not_on_the_trigger_grid(self):
        p = plans.make("lpi_live", 9, 20)
        lands = [f["land_ms"] for f in p["files"]]
        self.assertTrue(all(0 <= t < 20000 for t in lands))
        self.assertTrue(any(t % 2000 > 1 for t in lands))


    def test_live_mix_is_exact_and_spread_over_phase(self):
        for n in range(5, 30):
            kinds = plans._kinds_by_stratum(n)
            self.assertEqual(kinds.count("cut"), round(n * plans.CUT_SHARE))
            self.assertEqual(kinds.count("corrupt"), round(n * plans.CORRUPT_SHARE))
            cuts = [i for i, k in enumerate(kinds) if k == "cut"]
            if len(cuts) > 1:  # evenly spaced over the strata, give or take a slot
                gaps = [b - a for a, b in zip(cuts, cuts[1:])]
                self.assertLessEqual(max(gaps) - min(gaps), 2, kinds)

    def test_udbf_batches_carry_one_window(self):
        # under one arrival per trigger period, so no micro-batch sees two
        p = plans.make("udbf_window_live", 4, 30)
        periods = [math.floor(f["land_ms"] / plans.TRIGGER_MS) for f in p["files"]]
        self.assertEqual(len(set(periods)), len(periods))

    def test_live_loggers_never_share_a_janitor_period(self):
        p = plans.make("lpi_live", 4, 30)
        for g in plans.SHAPES:
            periods = [math.floor((f["land_ms"] - plans.TRIGGER_MS / 2) / plans.TRIGGER_MS)
                       for f in p["files"] if f["group"] == g]
            self.assertEqual(len(set(periods)), len(periods), g)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json lists exactly the metrics run.py prints, with their units."""

    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metrics_match_the_declarations(self):
        self.assertEqual([[m["name"], m["unit"], m["better"], m["bound"]]
                          for m in self.bench["end_to_end"]],
                         [list(m) for m in metrics.END_TO_END])
        self.assertEqual([[m["name"], m["unit"], m["better"]] for m in self.bench["per_layer"]],
                         [list(m) for m in metrics.PER_LAYER])

    def test_workloads_are_known(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], plans.WORKLOADS)
            plans.make(w["name"], 1, self.bench["run_seconds"])


class SelfTime(unittest.TestCase):
    def test_children_are_clipped_and_merged(self):
        spans = [dict(id=1, name="root", start=0, end=10, parent=0),
                 dict(id=2, name="a", start=1, end=4, parent=1),
                 dict(id=3, name="b", start=3, end=6, parent=1),
                 dict(id=4, name="c", start=8, end=12, parent=1),
                 dict(id=5, name="leaf", start=2, end=3, parent=2)]
        self.assertEqual(metrics.self_times(spans),
                         {"root": 3, "a": 2, "b": 3, "c": 4, "leaf": 1})

    def test_same_name_sums(self):
        spans = [dict(id=1, name="x", start=0, end=2, parent=0),
                 dict(id=2, name="x", start=5, end=6, parent=0)]
        self.assertEqual(metrics.self_times(spans), {"x": 3})


if __name__ == "__main__":
    unittest.main()
