"""Self-tests for the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The metric and generator tests take a few seconds. The smoke tests run
each workload end to end on tiny inputs (a build on the first run, then
up to a minute and a half per workload) and require its checks to pass.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))                       # 100 samples
        self.assertEqual(metrics.tail_percentile(xs)[0], 90.0)
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50.0)

    def test_interpolates_between_ranks(self):
        p, v = metrics.tail_percentile(list(range(1, 101)))
        self.assertAlmostEqual(v, 90.1)               # rank 0.9 * 99 = 89.1

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(metrics.tail_percentile([3.0, 1.0, 2.0, 9.0, 4.0]), (50.0, 3.0))


class SelfTime(unittest.TestCase):
    def test_children_coverage_is_subtracted_once(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 1, "end": 3},
                 {"id": 2, "parent": 0, "start": 2, "end": 5},   # overlaps 1
                 {"id": 3, "parent": 0, "start": 8, "end": 12},  # ends after 0
                 {"id": 4, "parent": 1, "start": 1, "end": 2}]   # grandchild
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 10 - (4 + 2))
        self.assertEqual(st[1], 2 - 1)
        self.assertEqual(st[2], 3)
        self.assertEqual(st[4], 1)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([0.5, 0.5, 0.5]), 0.5)

    def test_every_op_weighs_the_same(self):
        # a 100x heavier op moves the geomean by its own median only
        self.assertAlmostEqual(metrics.geomean([0.1, 0.1, 10.0]), 0.1 * 100 ** (1 / 3))


class EndToEnd(unittest.TestCase):
    def sample(self, p, op, t0, t1, error=None):
        return {"pass": p, "op": op, "traced": False, "traced_only": False,
                "t0": int(t0 * 1e9), "t1": int(t1 * 1e9), "w0": 0, "w1": 0,
                "error": error}

    def test_failed_ops_never_record_a_time(self):
        result = {"setup_s": 1.0, "heap_retained_mb": 10.0, "samples": [
            self.sample(-1, "a", 0, 5),                           # warm-up
            self.sample(0, "a", 10, 11), self.sample(0, "b", 11, 13),
            self.sample(1, "a", 20, 21), self.sample(1, "b", 21, 30, "boom")]}
        m, note = metrics.end_to_end(result, input_bytes=2e6)
        self.assertEqual((note["attempted"], note["failed"]), (4, 1))
        self.assertEqual(m["pass_s"], 3.0)                      # pass 1 failed
        self.assertEqual(m["op_s.p50"], 1.0)
        self.assertAlmostEqual(m["input_mb_per_s"], 2 / 3)
        self.assertEqual(m["ok_frac"], 0.75)
        m, note = metrics.end_to_end(result, 2e6, failures={(None, "b")})
        self.assertEqual(note["failed"], 2)
        self.assertNotIn("pass_s", m)


class Compare(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.0, 10.1, 9.9]

    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_over_the_iqr(self):
        change = [v * 0.8 for v in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, True, 0.1)[0], "gain")
        mixed = change[:8] + [11.0, 11.0]
        self.assertNotEqual(compare.verdict(self.parent, mixed, True, 0.1)[0], "gain")

    def test_regression_and_unresolved(self):
        worse = [v * 1.2 for v in self.parent]
        self.assertEqual(compare.verdict(self.parent, worse, True, 0.1)[0], "regression")
        noisy = [5.0, 15.0, 10.0, 6.0, 14.0, 10.0, 9.0, 11.0, 7.0, 13.0]
        self.assertEqual(compare.verdict(self.parent, noisy, True, 0.1)[0], "unresolved")
        self.assertEqual(compare.verdict(self.parent, self.parent, True, 0.1)[0], "unchanged")


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for workload in sorted(gen.GENERATORS):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(workload, 5, a, scale=0.01)
                gen.generate(workload, 5, b, scale=0.01)
                cmp = filecmp.dircmp(a, b)
                self.assertFalse(cmp.diff_files or cmp.left_only or cmp.right_only)
                self.assertTrue(all(not c.diff_files for c in cmp.subdirs.values()))

    def test_planted_rates_are_recorded(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("dedup_churn", 5, d, scale=0.05)
            self.assertEqual(m["planted"]["rates"]["delta_exact"], gen.DELTA_EXACT_RATE)
            self.assertGreater(m["planted"]["delta"]["exact"], 0)
            self.assertGreater(m["delta_bytes"], 0)


class Smoke(unittest.TestCase):
    def run_workload(self, workload, trace):
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"], proc.stdout[-3000:])
        self.assertEqual(res["failed"], 0)
        return res["metrics"]

    def test_each_workload_passes_its_checks(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        for w in [w["name"] for w in bench["workloads"]]:
            with self.subTest(workload=w):
                m = self.run_workload(w, 0)
                self.assertEqual(set(m), {e["name"] for e in bench["end_to_end"]})

    def test_traced_run_prints_every_layer_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        m = self.run_workload("dedup_churn", 1)
        self.assertEqual(set(m), {e["name"] for e in bench["per_layer"]})


if __name__ == "__main__":
    unittest.main()
