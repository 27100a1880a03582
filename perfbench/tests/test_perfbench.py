"""Unit tests of the benchmark's own rules.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import plan  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_boundary_needs_ten_samples_beyond(self):
        # n = 19: the median has only 9 samples ranked above it
        self.assertIsNone(metrics.tail_percentile(range(1, 20)))
        # n = 20: p50 is rank 10, exactly 10 beyond; p51 is rank 11, 9 beyond
        p, value, beyond, n = metrics.tail_percentile(range(1, 21))
        self.assertEqual((p, value, beyond, n), (50.0, 10, 10, 20))

    def test_highest_qualifying_percentile_and_printed_n(self):
        p, value, beyond, n = metrics.tail_percentile(range(1, 101))
        self.assertEqual((p, value, beyond, n), (90.0, 90, 10, 100))
        p, value, beyond, n = metrics.tail_percentile(range(1, 1001))
        self.assertEqual((p, value, beyond, n), (99.0, 990, 10, 1000))
        p, _, beyond, n = metrics.tail_percentile(range(1, 10001))
        self.assertEqual((p, beyond, n), (99.9, 10, 10000))

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(sorted(xs)))

    def test_percentile_is_nearest_rank(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), (2, 2))
        self.assertEqual(metrics.percentile([7], 99), (7, 0))


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for workload in plan.PLANS:
            a = json.dumps(plan.make(workload, 7), sort_keys=True)
            b = json.dumps(plan.make(workload, 7), sort_keys=True)
            self.assertEqual(a, b, workload)

    def test_other_seed_other_order_same_mix(self):
        pa, pb = plan.make("analytics", 1), plan.make("analytics", 2)
        a = [pa["warmup"]] + pa["passes"]
        b = [pb["warmup"]] + pb["passes"]
        self.assertNotEqual(a, b)
        for x, y in zip(a, b):
            self.assertEqual(Counter(x), Counter(y))
        units = list(plan.ANALYTICS_MIX) + [plan.INGEST]
        self.assertEqual(Counter(a[0]), Counter(units))
        self.assertEqual(Counter(a[1]), Counter(units + list(plan.TWICE)))

    def test_portal_sessions_follow_the_seed(self):
        a, b = (plan.make("portal", s, sessions=10) for s in (1, 2))
        self.assertNotEqual([s["event"] for s in a["sessions"]],
                            [s["event"] for s in b["sessions"]])
        for p in (a, b):
            # the same op mix for every seed: free and paid events
            # alternate, and every fifth session runs the dashboard
            self.assertEqual([s["stats"] for s in p["sessions"]],
                             [i % 5 == 4 for i in range(10)])
            self.assertEqual([p["events"][s["event"]]["price"] == "0.00"
                              for s in p["sessions"]],
                             [i % 2 == 0 for i in range(10)])
            emails = [s["email"] for s in p["sessions"] + p["warmup"]]
            self.assertEqual(len(emails), len(set(emails)))
            prices = [e["price"] for e in p["events"]]
            self.assertEqual(prices.count("0.00"), len(prices) // 2)


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for ok in ("ops.query_ms", "service.createUser_ms", "a-b_c.9"):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", ".x", "ops query", "ops/ms", "é", "x" * 65):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_benchmark_json_names(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for name in names:
            self.assertTrue(metrics.valid_name(name), name)

    def test_reported_names_match_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        fake = _fake_result()
        e2e, _ = metrics.end_to_end(fake, "portal", 1.0)
        self.assertEqual(set(e2e), {m["name"] for m in spec["end_to_end"]})
        layer = metrics.per_layer(_fake_result(), "portal", 2.0)
        self.assertEqual(set(layer), {m["name"] for m in spec["per_layer"]})
        for m in spec["end_to_end"] + spec["per_layer"]:
            got = (e2e.get(m["name"]) or layer.get(m["name"]))[1]
            self.assertEqual(got, m["unit"], m["name"])


class Rates(unittest.TestCase):
    def test_analytics_rate_is_the_median_pass(self):
        # three passes of 2 ops: 2 ops in 1 s, in 2 s and in 4 s
        ops = [{"name": "q", "unit": u, "t0": t0, "t1": t0 + d, "ok": True}
               for u, (t0, d) in enumerate([(0, 1000), (2000, 2000),
                                            (5000, 4000)])
               for t0, d in [(t0, d / 2), (t0 + d / 2, d / 2)]]
        result = {"ops": ops, "window": {"t0": 0, "t1": 9000}}
        self.assertEqual(metrics.ops_per_s(result, "analytics"), 1.0)
        self.assertAlmostEqual(metrics.ops_per_s(result, "portal"), 6 / 9)

    def test_trace_overhead_against_the_untraced_rate(self):
        fake = _fake_result()
        rate = metrics.ops_per_s(fake, "portal")
        m = metrics.per_layer(fake, "portal", rate * 1.25)
        self.assertAlmostEqual(m["bench.trace_overhead_pct"][0], 20.0)
        self.assertEqual(
            metrics.per_layer(_fake_result(), "portal")[
                "bench.trace_overhead_pct"][0], 0.0)


def _span(i, parent, t0, t1, layer="bench", trace=None):
    return {"id": i, "parent": parent, "trace": trace or i, "name": f"s{i}",
            "layer": layer, "t0": t0, "t1": t1}


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [_span(1, 0, 0, 100), _span(2, 1, 10, 60, "ops", 1),
                 _span(3, 2, 20, 30, "streaming", 1)]
        self.assertEqual(metrics.self_times(spans), {1: 50, 2: 40, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [_span(1, 0, 0, 100), _span(2, 1, 10, 50, "ops", 1),
                 _span(3, 1, 30, 70, "ops", 1), _span(4, 1, 80, 90, "ops", 1)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 60 - 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [_span(1, 0, 0, 100), _span(2, 1, 90, 130, "ops", 1),
                 _span(3, 1, -20, 5, "ops", 1)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 10 - 5)

    def test_self_times_sum_to_root_wall(self):
        # holds whenever siblings do not overlap; overlapping siblings
        # each keep their own self time, so the sum then exceeds the wall
        spans = [_span(1, 0, 0, 100), _span(2, 1, 10, 60, "ops", 1),
                 _span(3, 2, 20, 30, "streaming", 1),
                 _span(4, 2, 30, 40, "streaming", 1)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 100)
        spans[3] = _span(4, 2, 25, 40, "streaming", 1)
        self.assertEqual(metrics.self_times(spans),
                         {1: 50, 2: 30, 3: 10, 4: 15})

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([]), 0)


def _fake_result():
    """A small traced portal result with every field the metrics read."""
    ops, spans, jobs = [], [], []
    t = 1000.0
    for i in range(30):
        name = plan.PORTAL_OPS[i % len(plan.PORTAL_OPS)]
        ops.append({"name": name, "layer": "service", "unit": i // 6,
                    "t0": t,
                    "t1": t + 50 + i, "ok": True, "err": ""})
        spans.append(_span(2 * i + 1, 0, t, t + 50 + i))
        spans.append(_span(2 * i + 2, 2 * i + 1, t + 1, t + 49 + i,
                           "service", 2 * i + 1))
        jobs.append({"id": i, "span": 2 * i + 2, "t0": t + 5, "t1": t + 20})
        t += 100
    return {
        "setup": {"session_ms": 4000.0, "stage_ms": 100.0,
                  "warmup_ms": 900.0},
        "window": {"t0": 1000.0, "t1": t},
        "jvm": {"window": {"gc_ms": 1, "jit_ms": 2, "codegen_ms": 3,
                           "codegen_classes": 4}, "rss_peak_kb": 2048},
        "ops": ops, "failures": [], "spans": spans, "jobs": jobs,
        "plan_ms": {"2": 3.0},
        "work": {str(s["id"]): {"tasks": 4, "shuffle_bytes": 10,
                                "scan_bytes": 20, "spill_bytes": 0}
                 for s in spans if s["layer"] == "service"},
        "batches": [],
        "extra": {"store": {"bytes": 1000, "commits": 40, "checkpoints": 4,
                            "log_bytes": 100, "files_written": 30,
                            "bytes_written": 900, "live_rows": 50,
                            "live_rows_before": 20, "files_live": 25,
                            "before": {"commits": 10, "checkpoints": 1}}},
    }


if __name__ == "__main__":
    unittest.main()
