"""Unit tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)

    def test_ten_beyond_p90_needs_100_samples(self):
        self.assertEqual(metrics.min_samples(0.9), 100)
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertEqual(metrics.beyond(99, 0.9), 9)
        self.assertEqual(metrics.min_samples(0.5), 20)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(metrics.interval_union([(0, 1), (2, 3)]), 2)
        self.assertEqual(metrics.interval_union([(0, 2), (1, 3)]), 3)
        self.assertEqual(metrics.interval_union([(0, 10), (2, 3), (4, 5)]), 10)

    def test_touching_and_unsorted(self):
        self.assertEqual(metrics.interval_union([(5, 6), (0, 1), (1, 2)]), 3)

    def test_empty_and_inverted(self):
        self.assertEqual(metrics.interval_union([]), 0)
        self.assertEqual(metrics.interval_union([(3, 1), (2, 2)]), 0)

    def test_clipping(self):
        self.assertEqual(metrics.interval_union([(0, 10)], lo=2, hi=5), 3)
        self.assertEqual(metrics.interval_union([(0, 1), (8, 12)], lo=2, hi=10), 2)


class CoreUtil(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(metrics.core_util(8.0, 4.0, 4), 0.5)
        self.assertAlmostEqual(metrics.core_util(16.0, 4.0, 4), 1.0)

    def test_rejects_zero_wall(self):
        with self.assertRaises(ValueError):
            metrics.core_util(1.0, 0.0, 4)


def _sample(q, start, cend, end, ok=True, jobs=(), phases=(), tasks=None, commit=None, qid=1):
    return {"query": q, "qid": qid, "start_ms": start, "construct_end_ms": cend,
            "end_ms": end, "ok": ok, "jobs": list(jobs), "phases": list(phases),
            "tasks": tasks or {}, "commit": commit or {}}


class Reduction(unittest.TestCase):
    def record(self):
        job = {"id": 0, "start_ms": 1100.0, "end_ms": 1600.0, "span": "1/execute"}
        traced = _sample("a", 1000.0, 1050.0, 2000.0, jobs=[job],
                         phases=[{"qe": "save", "phase": "planning",
                                  "start_ms": 1050.0, "end_ms": 1080.0}],
                         tasks={"stages": 2, "tasks": 8, "run_ms": 2000.0},
                         commit={"commitManifest": {"s": 0.1, "calls": 2}})
        return {
            "host": {"nproc": 4},
            "setup": {"session_build_s": 1.0, "check_pass_s": 2.0, "first_timed_ms": 500.0},
            "checks": [{"query": "a", "ok": True, "fingerprint": "1:0"}],
            "retained_heap_mb": 100.0,
            "passes": [
                {"pass": 0, "traced": False, "start_ms": 0.0, "end_ms": 800.0,
                 "samples": [_sample("a", 0.0, 10.0, 800.0)]},
                {"pass": 1, "traced": True, "start_ms": 1000.0, "end_ms": 2000.0,
                 "samples": [traced]},
            ],
        }

    def test_per_layer(self):
        m = metrics.per_layer(self.record())
        self.assertAlmostEqual(m["scheduler.job_wall_s"][0], 0.5)
        self.assertAlmostEqual(m["scheduler.outside_job_s"][0], 0.5)
        self.assertAlmostEqual(m["queries.construct_share"][0], 0.05)
        self.assertAlmostEqual(m["executor.core_util"][0], 0.5)
        self.assertAlmostEqual(m["scheduler.tasks_per_stage"][0], 4)
        self.assertAlmostEqual(m["catalyst.planning_s"][0], 0.03)
        self.assertEqual(m["sources.commits"][0], 2)
        self.assertAlmostEqual(m["trace.overhead"][0], 1.25)

    def test_overhead_baseline_skips_first_pass(self):
        rec = self.record()
        rec["passes"].append({"pass": 2, "traced": False, "start_ms": 3000.0, "end_ms": 3500.0,
                              "samples": [_sample("a", 3000.0, 3010.0, 3500.0)]})
        self.assertAlmostEqual(metrics.per_layer(rec)["trace.overhead"][0], 2.0)

    def test_failures_count_against_attempts(self):
        rec = self.record()
        rec["passes"][0]["samples"].append(_sample("b", 0.0, 0.0, 1.0, ok=False))
        self.assertEqual(metrics.attempts(rec), (4, 1))
        self.assertEqual(metrics.attempts(rec, mismatches=1), (4, 2))

    def test_all_failing_run_reports_no_latency(self):
        rec = self.record()
        for p in rec["passes"]:
            for s in p["samples"]:
                s["ok"] = False
        rec["checks"][0]["ok"] = False
        m = metrics.end_to_end(rec, 0.0)
        self.assertNotIn("query_p50_s", m)
        self.assertEqual(m["ok_frac"][0], 0.0)
        self.assertEqual(m["ok_frac"][2], 3)

    def test_latency_needs_ten_ok_samples_beyond_median(self):
        rec = self.record()
        rec["passes"][0]["samples"] = [_sample("a", 0.0, 1.0, 10.0 + i, ok=i < 20)
                                       for i in range(40)]
        m = metrics.end_to_end(rec, 0.0)
        self.assertEqual(m["query_p50_s"][2], 20)
        self.assertAlmostEqual(m["query_p50_s"][0], 0.019)
        rec["passes"][0]["samples"][0]["ok"] = False
        self.assertNotIn("query_p50_s", metrics.end_to_end(rec, 0.0))

    def test_spans_nest_under_query(self):
        sp = metrics.spans(self.record())
        parents = {s["name"]: s["parent"] for s in sp}
        self.assertEqual(parents["query"], None)
        self.assertEqual(parents["execute"], "query")
        self.assertEqual(parents["job 0"], "execute")
        self.assertEqual(parents["catalyst.planning"], "execute")
        self.assertEqual(len({s["trace_id"] for s in sp}), 1)


if __name__ == "__main__":
    unittest.main()
