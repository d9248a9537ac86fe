"""Tests of the benchmark's pure parts and of its generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import pathlib
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
BENCH = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import stats  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 4001))  # 4000 samples
        self.assertEqual(stats.tail(xs), (99.5, 3980))  # 20 beyond; p99.9 has only 4
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90.0, 90))  # exactly 10 beyond
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(xs), (99.0, 990))

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (50.0, 3))
        self.assertEqual(stats.tail(list(range(30))), (50.0, 14.5))
        self.assertEqual(stats.tail([]), (50.0, 0.0))


class OpMedians(unittest.TestCase):
    def test_geometric_mean_of_per_op_medians(self):
        smp = {"served_ms.vector": [1.0, 2.0, 30.0], "served_ms.ranked": [4.0, 4.0],
               "query_ms.vector": [100.0]}
        self.assertAlmostEqual(stats.op_p50(smp, "served_ms"), 8 ** 0.5)
        self.assertEqual(sorted(stats.pooled(smp, "served_ms")), [1.0, 2.0, 4.0, 4.0, 30.0])
        self.assertEqual(stats.op_p50({}, "served_ms"), 0.0)

    def test_tail_is_the_median_of_the_window_tails(self):
        windows = {"t.%d" % i: list(range(1, 101)) for i in range(4)}
        windows["t.4"] = list(range(1, 90)) + [1000] * 11  # one stalled window
        self.assertEqual(stats.window_tail(windows, "t"), (90.0, 90))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0_ns": t0, "t1_ns": t1}

    def test_children_are_subtracted_once(self):
        spans = [
            self.span(1, 0, 0, 100),
            self.span(2, 1, 10, 30),
            self.span(3, 1, 20, 50),   # overlaps span 2: 10..50 covered once
            self.span(4, 1, 60, 70),
            self.span(5, 4, 62, 68),   # grandchild: charged to span 4 only
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[1], 50e-9)
        self.assertAlmostEqual(got[2], 20e-9)
        self.assertAlmostEqual(got[3], 30e-9)
        self.assertAlmostEqual(got[4], 4e-9)
        self.assertAlmostEqual(got[5], 6e-9)

    def test_child_outliving_its_parent_counts_only_inside(self):
        got = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)])
        self.assertAlmostEqual(got[1], 5e-9)


class Names(unittest.TestCase):
    def empty_raw(self):
        return {"span_fields": ["id", "parent", "req", "name", "t0_ns", "t1_ns", "written",
                                "freed", "jobs", "stages", "tasks", "input_bytes",
                                "shuffle_bytes", "jobs_core", "jobs_operators"],
                "spans": [], "notes": {}, "samples": {}, "scalars": {"user_bytes_written": 1},
                "recall_hits": 0, "recall_total": 0, "heap_used_mb": 1.0,
                "attempted": 1, "failed": 0}

    def test_every_emitted_name_is_well_formed(self):
        raw = self.empty_raw()
        names = [n for n, _ in stats.END_TO_END] + [n for n, _, _ in stats.per_layer(raw)]
        names += [w["name"] for w in SPEC["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, stats.NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_emitted_metrics_are_the_declared_ones(self):
        raw = self.empty_raw()
        e2e = [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]
        self.assertEqual(e2e, stats.END_TO_END)
        values, _ = stats.end_to_end(raw)
        self.assertEqual(sorted(values), sorted(n for n, _ in e2e))
        layer = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]
        self.assertEqual(layer, [(n, u) for n, u, _ in stats.per_layer(raw)])


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs SPARK_HOME to build")
class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes, cls.jars, _ = build.build()

    def digest(self, seed):
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-cp", f"{self.classes}:{self.jars}/*",
             "perfbench.Main", "--gen-digest", "--seed", str(seed)],
            capture_output=True, text=True, check=True)
        return out.stdout.strip()

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        a, b, c = self.digest(7), self.digest(7), self.digest(8)
        self.assertEqual(len(a), 64)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
