"""Self-tests of the benchmark's own computations:
python3 perfbench/run.py --selftest"""
import unittest

import metrics
from workloads import WORKLOADS, select


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100, shuffled order must not matter
        value, pct, n = metrics.tail(reversed(xs))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_percentile_tracks_sample_count(self):
        value, pct, n = metrics.tail([0.1] * 30 + [1.0] * 10)
        self.assertEqual((value, n), (0.1, 40))
        self.assertAlmostEqual(pct, 75.0)

    def test_too_few_samples_gives_minimum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (1.0, 100.0 / 3, 3))


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (2, 6), (5, 7)]), 4)

    def test_children_clipped_to_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((2, 5), []), 3)


class CoreBusyTest(unittest.TestCase):
    def test_share_of_capacity(self):
        self.assertAlmostEqual(metrics.core_busy_share(6.0, 3.0, 4), 0.5)

    def test_zero_wall(self):
        self.assertEqual(metrics.core_busy_share(1.0, 0.0, 4), 0.0)


class OrderTest(unittest.TestCase):
    names = WORKLOADS["serve_sf01"]["queries"]

    def test_same_seed_same_order(self):
        self.assertEqual(metrics.request_order(self.names, 7, 3),
                         metrics.request_order(self.names, 7, 3))

    def test_other_seed_other_order(self):
        self.assertNotEqual(metrics.request_order(self.names, 7, 1),
                            metrics.request_order(self.names, 8, 1))

    def test_no_seed_keeps_listed_order(self):
        self.assertEqual(metrics.request_order(self.names, None, 2, {"q43_media_meta"}),
                         [["q43_media_meta"] + self.names[:-1]] * 2)

    def test_producers_lead_every_pass(self):
        first = {"q01_bestsellers", "q43_media_meta"}
        for p in metrics.request_order(self.names, 5, 3, first):
            self.assertEqual(set(p[:2]), first)

    def test_each_pass_is_a_permutation(self):
        for p in metrics.request_order(self.names, 3, 4):
            self.assertEqual(sorted(p), sorted(self.names))


class RunMetricsTest(unittest.TestCase):
    """End-to-end and per-layer metrics of a tiny synthetic run."""

    def raw(self):
        def q(name, p, t0, land=False):
            return {"q": name, "pass": p, "t0": t0, "t1": t0 + 100, "t2": t0 + 150,
                    "t3": t0 + 950, "t4": t0 + (1000 if land else 950),
                    "land": land, "rows": 5, "err": ""}
        queries = [q("a", -1, 0, True), q("b", -1, 1000, True),
                   q("a", 0, 2000), q("b", 0, 2950), q("a", 1, 3900), q("b", 1, 4850)]
        jobs = [{"id": i, "q": r["q"], "pass": r["pass"], "phase": "exec",
                 "start": r["t2"], "end": r["t2"] + 400, "stages": 2, "tasks": 4,
                 "failed_tasks": 0, "run_ms": 1600, "cpu_ns": 10 ** 9,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input_rows": 7}
                for i, r in enumerate(queries)]
        setups = [{"total_s": t, "session_s": 0, "warmup_s": 0, "stage_s": 0,
                   "register_s": 0} for t in (9.0, 3.0, 2.0)]
        return {"setups": setups, "cores": 4, "queries": queries, "jobs": jobs,
                "retained_heap_mb": 100.0, "memo_before": 0, "memo_after": 2,
                "pinned_bytes": 0, "trace_wait_s": 0.01, "gc_land_s": 0.3,
                "gc_measured_s": 0.2}

    def test_serve_end_to_end(self):
        m, _ = metrics.end_to_end(self.raw(), "serve", {("b", 1)})
        self.assertEqual(m["setup_s"], (3.0, "s"))
        self.assertAlmostEqual(m["pipeline_s"][0], 1.9)
        self.assertAlmostEqual(m["queries_per_s"][0], 3 / 3.8)
        self.assertAlmostEqual(m["query_p50_s"][0], 0.95)

    def test_batch_uses_the_cold_pass(self):
        m, _ = metrics.end_to_end(self.raw(), "batch", set())
        self.assertAlmostEqual(m["pipeline_s"][0], 2.0)
        self.assertAlmostEqual(m["queries_per_s"][0], 1.0)

    def test_per_layer_per_pass(self):
        m, traces = metrics.per_layer(self.raw(), "serve", {"a": "reports.X", "b": "dsl.Y"}, 0)
        self.assertEqual(len(traces), 6)
        self.assertEqual(m["exec.jobs"][0], 2)
        self.assertAlmostEqual(m["exec.s"][0], 1.6)
        self.assertAlmostEqual(m["exec.self_s"][0], 0.8)
        self.assertAlmostEqual(m["exec.core_busy_share"][0], 3.2 / (1.6 * 4))
        self.assertAlmostEqual(m["load.s"][0], 0.1)
        self.assertEqual(m["reports.exec_jobs"][0], 1)
        self.assertEqual(m["chaincache.builds"][0], 2)
        self.assertAlmostEqual(m["jvm.gc_s"][0], 0.1)


class WorkloadTest(unittest.TestCase):
    def test_select_rejects_oracle_less_queries(self):
        reg = [{"name": n, "extra": False, "oracle": "SELECT 1"}
               for n in WORKLOADS["batch_sf01"]["queries"]]
        self.assertEqual(select(WORKLOADS["batch_sf01"], reg),
                         WORKLOADS["batch_sf01"]["queries"])
        reg[0]["oracle"] = None
        with self.assertRaises(ValueError):
            select(WORKLOADS["batch_sf01"], reg)


if __name__ == "__main__":
    unittest.main()
