"""Self-tests of the benchmark runner's own logic.

Run from the repository root: python3 -m unittest perfbench/test_run.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def op(name, ms, cold=False, error=None, traced=False, layers=None):
    return {"name": name, "ms": ms, "janitor_ms": 1.0, "cold": cold,
            "traced": traced, "error": error, "layers": layers or {}}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_has_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 50)
        self.assertEqual(run.tail_percentile(39), 50)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(199), 90)
        self.assertEqual(run.tail_percentile(200), 95)
        self.assertEqual(run.tail_percentile(1000), 99)
        for n in range(1, 3000):
            p = run.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(n * (100 - p) / 100, 10)

    def test_nearest_rank(self):
        self.assertEqual(run.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(run.percentile([5.0, 1.0, 3.0], 50), 3.0)


class Failures(unittest.TestCase):
    def test_throwing_operation_counts_and_leaves_latency(self):
        ops = [op("q1", 100.0, cold=True), op("q1", 10.0), op("q2", 20.0),
               op("q1", 30.0),
               op("q3", 99999.0, error="java.lang.RuntimeException: boom")]
        attempted, failed, failures = run.outcome(ops)
        self.assertEqual((attempted, failed), (5, 1))
        self.assertEqual(failures, [("q3", "java.lang.RuntimeException: boom")])
        m = run.end_to_end({"ops": ops, "setup_s": [3.0, 1.0, 2.0],
                            "peak_rss_mb": 512.0})
        self.assertEqual(m["setup_s"][0], 2.0)
        # q1 averages 20 ms, q2 20 ms; the failed q3 has no latency
        # sample, but its time counts in the wall time of ops_per_s
        self.assertAlmostEqual(m["op_geomean_ms"][0], 20.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 3 / ((10 + 20 + 30 + 99999 + 4) / 1e3))

    def test_all_failed_marks_the_run_incorrect(self):
        ops = [op("q1", 5.0, cold=True, error="x"), op("q1", 5.0, error="x")]
        m = run.end_to_end({"ops": ops, "setup_s": [1.0], "peak_rss_mb": 1.0})
        self.assertNotEqual(m["op_geomean_ms"][0], m["op_geomean_ms"][0])  # NaN


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.BENCH, "..", "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_names_use_only_the_allowed_characters(self):
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        names += [w["name"] for w in self.spec["workloads"]]
        for n in names:
            self.assertRegex(n, run.NAME_RE)
        self.assertEqual(len(names), len(set(names)))
        for bad in ("op p50", "p50/ms", "_lead", "x" * 65, "é"):
            self.assertIsNone(run.NAME_RE.match(bad))

    def test_runner_reports_exactly_the_declared_metrics(self):
        e2e_units, layer_units = run.load_spec()
        ops = [op("q", 1.0, cold=True), op("q", 2.0),
               op("q", 3.0, traced=True, layers={"janitor_ms": 4.0}),
               op("r", 10.0), op("r", 30.0, traced=True, layers={"janitor_ms": 8.0}),
               op("r", 50.0, traced=True, layers={"janitor_ms": 9.0})]
        sample = {"ops": ops, "setup_s": [1.0], "peak_rss_mb": 1.0}
        self.assertEqual(set(run.end_to_end(sample)), set(e2e_units))
        layers = run.per_layer(sample, layer_units)
        self.assertEqual(set(layers), set(layer_units))
        # per-name means first: q 4.0, r 8.5; overheads q +1, r +30
        self.assertEqual(layers["janitor_ms"][0], 6.25)
        self.assertEqual(layers["trace.overhead_ms"][0], 15.5)
        self.assertEqual(layers["cold_pass_s"][0], 0.001)

    def test_every_layer_metric_names_what_it_moves(self):
        with open(os.path.join(run.BENCH, "layers.json")) as fh:
            layers = json.load(fh)
        self.assertEqual([m["name"] for m in layers],
                         [m["name"] for m in self.spec["per_layer"]])
        e2e = {m["name"] for m in self.spec["end_to_end"]}
        for m in layers:
            if m["moves"].startswith("nothing"):
                continue
            self.assertTrue(any(n in m["moves"] for n in e2e), m["name"])

    def test_workloads_match_the_runner(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]),
                         run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
