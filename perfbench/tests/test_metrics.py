"""Unit tests of the run-record summary (no JVM needed).

    python3 -m unittest discover -s perfbench/tests -p 'test_metrics.py'
"""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402


def op(name, ms, ok=True, pass_=1, kind="query"):
    return {"kind": kind, "name": name, "pass": pass_, "start_ms": 0.0,
            "ms": ms, "ok": ok, "error": None if ok else "boom"}


def olap_record(ops, passes, checks=()):
    return {"workload": "olap_fixture", "seed": 1, "trace": False, "cores": 4,
            "first_op_ms": 11000.0, "peak_rss_mb": 900.0, "heap_live_mb": 300.0, "ops": ops,
            "passes": passes, "checks": list(checks)}


class StatsTest(unittest.TestCase):
    def test_tail_is_highest_percentile_with_ten_beyond(self):
        v, label = metrics.tail(list(range(1, 61)))
        self.assertEqual(v, 50)  # ten samples (51..60) lie beyond it
        self.assertEqual(label, "p83")

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, "max"))

    def test_geomean_ignores_missing(self):
        self.assertAlmostEqual(metrics.geomean([2.0, None, 8.0]), 4.0)

    def test_traced_at_follows_toggles(self):
        toggles = [[10.0, True], [20.0, False]]
        self.assertFalse(metrics.traced_at(toggles, 5.0))
        self.assertTrue(metrics.traced_at(toggles, 15.0))
        self.assertFalse(metrics.traced_at(toggles, 25.0))


class FailureAccountingTest(unittest.TestCase):
    def test_failed_op_fails_the_run_and_its_pass(self):
        ops = [op("a", 100.0), op("b", 200.0),
               op("a", 110.0, pass_=2), op("b", 5.0, ok=False, pass_=2)]
        passes = [{"pass": 1, "wall_s": 0.3, "cpu_s": 0.9, "complete": True, "traced": False},
                  {"pass": 2, "wall_s": 0.1, "cpu_s": 0.2, "complete": False, "traced": False}]
        res = metrics.summarize(olap_record(ops, passes), launch_ms=1000.0)
        self.assertEqual((res["attempted"], res["failed"]), (4, 1))
        self.assertAlmostEqual(res["named"]["fail_ratio"]["value"], 0.25)
        # the short, failed pass never lowers pass_s or cpu_s
        self.assertEqual(res["named"]["pass_s"]["value"], 0.3)
        self.assertEqual(res["named"]["pass_s"]["n"], 1)
        self.assertEqual(res["named"]["cpu_s"]["value"], 0.9)
        # a failed op's time is not a latency sample
        self.assertEqual(res["named"]["read_p50_ms"]["n"], 3)
        # a typical query: geomean of a's p50 (105) and b's (200)
        self.assertAlmostEqual(res["metrics"]["latency_p50_ms"]["value"],
                               (105.0 * 200.0) ** 0.5)

    def test_no_complete_pass_means_no_pass_figures_and_incorrect(self):
        ops = [op("a", 5.0, ok=False)]
        passes = [{"pass": 1, "wall_s": 0.1, "cpu_s": 0.2, "complete": False, "traced": False}]
        res = metrics.summarize(olap_record(ops, passes), launch_ms=1000.0)
        self.assertIsNone(res["named"]["pass_s"]["value"])
        self.assertIsNone(res["named"]["cpu_s"]["value"])
        self.assertFalse(res["correct"])

    def test_failed_check_makes_run_incorrect(self):
        passes = [{"pass": 1, "wall_s": 0.1, "cpu_s": 0.2, "complete": True, "traced": False}]
        res = metrics.summarize(olap_record(
            [op("a", 5.0)], passes,
            [{"name": "x", "ok": False, "detail": "wrong"}]), launch_ms=1000.0)
        self.assertFalse(res["correct"])
        self.assertAlmostEqual(res["metrics"]["setup_s"]["value"], 10.0)
        # one query execution in a pass of 0.1 s
        self.assertAlmostEqual(res["metrics"]["work_rate"]["value"], 10.0)


class StreamSummaryTest(unittest.TestCase):
    def record(self, reconfig):
        batches = [{"rows": 1000, "event_ms": e, "exec_ms": 200.0, "start_ms": 0.0}
                   for e in (1500.0, 1700.0, 1600.0)]
        return {"workload": "stream_reconfig", "seed": 1, "trace": False, "cores": 4,
                "first_op_ms": 11000.0, "peak_rss_mb": 900.0, "heap_live_mb": 300.0,
                "ops": [op("fries", 10000.0, kind="stream")], "passes": [], "checks": [],
                "stream": {"ops": {"fries": {"rate": 1000, "batches": batches,
                                             "rows_s": 5000.0}},
                           "cpu_ms": 6000.0, "reconfig": reconfig}}

    def test_pass_is_a_complete_reconfiguration_round(self):
        pub = lambda rnd, scope, t, rtt, ok=True: {
            "round": rnd, "scope": scope, "publish_ms": t, "rtt_ms": rtt, "ok": ok}
        res = metrics.summarize(self.record([
            pub(1, "all", 0.0, 400.0), pub(1, "mcs", 10.0, 390.0),
            pub(2, "mcs", 2000.0, 600.0), pub(2, "all", 2010.0, 590.0),
            pub(3, "all", 4000.0, float("nan"), ok=False), pub(3, "mcs", 4010.0, 100.0)]),
            launch_ms=1000.0)
        # rounds 1 and 2 take 0.4 and 0.6 s; round 3 never completed
        self.assertAlmostEqual(res["named"]["pass_s"]["value"], 0.5)
        self.assertEqual(res["named"]["pass_s"]["n"], 2)
        self.assertEqual(res["metrics"]["latency_p50_ms"]["value"], 1600.0)
        self.assertAlmostEqual(res["metrics"]["work_rate"]["value"], 5000.0)
        self.assertAlmostEqual(res["metrics"]["cpu_s"]["value"], 6.0 / 3.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_run_py_prints(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
