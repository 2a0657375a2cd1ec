"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(benchlib.tail_percentile(19), 0.50)
        self.assertEqual(benchlib.tail_percentile(20), 0.50)
        self.assertEqual(benchlib.tail_percentile(40), 0.75)
        self.assertEqual(benchlib.tail_percentile(99), 0.75)
        self.assertEqual(benchlib.tail_percentile(100), 0.90)
        self.assertEqual(benchlib.tail_percentile(200), 0.95)
        self.assertEqual(benchlib.tail_percentile(1000), 0.99)

    def test_at_least_ten_samples_beyond_when_possible(self):
        for n in range(20, 2000, 7):
            p, _, beyond = benchlib.tail(list(range(n)))
            self.assertGreaterEqual(beyond, 10, n)
            self.assertGreaterEqual(n * (1 - p), 10 - 1e-9)

    def test_interpolated_percentile(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(benchlib.percentile(xs, 0.5), 2.5)
        self.assertEqual(benchlib.percentile(xs, 0.0), 1.0)
        self.assertEqual(benchlib.percentile(xs, 1.0), 4.0)
        self.assertEqual(benchlib.percentile([7.0], 0.9), 7.0)


class SeededDrift(unittest.TestCase):
    def test_same_seed_same_plan_and_modes(self):
        for seed in (0, 1, 17):
            a = benchlib.plan_lines("sync_steady", seed, 4)
            b = benchlib.plan_lines("sync_steady", seed, 4)
            self.assertEqual(a, b)
            pa, da = benchlib.sync_plan(seed, 4)
            pb, db = benchlib.sync_plan(seed, 4)
            for c in (1, 2, 3, 50):
                self.assertEqual(benchlib.expected_modes(pa, da, c),
                                 benchlib.expected_modes(pb, db, c))

    def test_other_seed_other_plan(self):
        self.assertNotEqual(benchlib.plan_lines("sync_steady", 1, 4),
                            benchlib.plan_lines("sync_steady", 2, 4))

    def test_every_cycle_has_the_same_shape(self):
        for seed in range(5):
            params, drifts = benchlib.sync_plan(seed, 4)
            for c in range(1, 60):
                modes = sorted(benchlib.expected_modes(params, drifts, c).values())
                self.assertEqual(modes, ["Incremental"] * 3 + ["Noop"] * 4 + ["Truncate"])

    def test_cold_tables_never_reach_compaction(self):
        # a cold table's incremental drifts are always separated by a
        # truncate, so its target never holds two pending commits
        params, drifts = benchlib.sync_plan(3, 4)
        hot = {int(t) for t in params["lake_sources"].split(",")}
        pending = {t: 0 for t in range(params["tables"]) if t not in hot}
        for c in range(1, benchlib.MAX_CYCLES + 1):
            for t, shape in drifts[c].items():
                if t in hot:
                    continue
                mode = benchlib.expected_mode(shape)
                pending[t] = 0 if mode == "Truncate" else pending[t] + 1
                self.assertLess(pending[t], 2)

    def test_queue_is_the_same_schedule_for_every_seed(self):
        for seed in range(5):
            params, drifts = benchlib.sync_plan(seed, 4)
            for c in range(1, 20):
                q = benchlib.queue(params, drifts, c)
                self.assertEqual(sorted(q), list(range(params["tables"])))
                want = benchlib.expected_modes(params, drifts, c)
                self.assertEqual([want[f"T{t}"] for t in q],
                                 ["Incremental", "Incremental", "Truncate", "Incremental"]
                                 + ["Noop"] * 4)
                self.assertEqual(q[0], params["compact_every_fast"])

    def test_expected_mode(self):
        self.assertEqual(benchlib.expected_mode(None), "Noop")
        self.assertEqual(benchlib.expected_mode(benchlib.UPDATE), "Incremental")
        self.assertEqual(benchlib.expected_mode(benchlib.MIXED), "Incremental")
        self.assertEqual(benchlib.expected_mode(benchlib.TRUNCATE), "Truncate")


def _unit(traced, wall):
    cycle = {"cycle": 1, "wall_s": wall, "user_cpu_s": 2.0, "read_bytes": 5 << 20,
             "write_bytes": 1 << 20, "gc_s": 0.1, "changed_rows": 100,
             "changed_bytes": 1 << 20, "target_written_bytes": 3 << 20,
             "reports": [{"table": f"T{i}", "mode": "Noop", "ok": True, "s": 0.5 + i,
                          "error": None} for i in range(8)]}
    layers = {name: 1.0 for name, _ in benchlib.PER_LAYER}
    return {"traced": traced, "wall_s": wall, "cycles": [cycle],
            "layers": layers if traced else {}}


class Metrics(unittest.TestCase):
    raw = {"session_s": 3.0, "setups_s": [5.0, 4.0, 4.5], "warmup_s": 2.0,
           "peak_rss_mb": 900.0,
           "peak_disk_bytes": 1 << 30, "space_amp": 1.3,
           "setup_layers": {"lake.overwrite_s": 2.0, "lake.overwrite_count": 8.0,
                            "lake.overwrite_mb_written": 100.0},
           "units": [_unit(True, 6.0), _unit(False, 5.0)]}

    def test_end_to_end_metrics_complete_and_nonzero(self):
        m, detail = benchlib.end_to_end(self.raw, "sync_steady")
        self.assertEqual(set(m), {n for n, _, _ in benchlib.END_TO_END})
        self.assertTrue(all(v > 0 for v in m.values()))
        self.assertEqual(m["setup_s"], 3.0 + 4.5 + 2.0)
        self.assertEqual(m["pass_p50_s"], 5.5)
        self.assertEqual(detail["items"], 16)
        self.assertEqual(detail["item_p50_s"], 4.0)

    def test_per_layer_metrics_complete(self):
        v = benchlib.per_layer(self.raw, "sync_steady")
        self.assertEqual(set(v), {n for n, _ in benchlib.PER_LAYER})
        self.assertAlmostEqual(v["trace.overhead_frac"], 6.0 / 5.0 - 1)
        self.assertEqual(v["lake.overwrite_count"], 9.0)
        self.assertAlmostEqual(v["lake.overwrite_s"], 3.0 / 9.0)
        self.assertAlmostEqual(v["lake.overwrite_mb_per_s"], 100.0 / 3.0)


class MetricNames(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_names_and_units_are_valid(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics] + [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
        for w in self.spec["workloads"]:
            self.assertRegex(w["name"], NAME)
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])

    def test_spec_matches_what_the_runs_print(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(benchlib.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["end_to_end"]],
                         list(benchlib.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         list(benchlib.PER_LAYER))

    def test_bounds(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertIn("setup_s", bounds)
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
