"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import tempfile
import unittest

import duckdb

import report
import run
import workloads


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = [float(i) for i in range(30, 0, -1)]
        value, pct, beyond = report.tail(xs)
        self.assertEqual(value, 20.0)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_never_below_two_thirds(self):
        self.assertEqual(report.tail([float(i) for i in range(30)])[:2], (19.0, 100 * 20 / 30))
        self.assertIsNone(report.tail([float(i) for i in range(29)]))
        self.assertIsNone(report.tail([float(i) for i in range(21)]))

    def test_max_when_no_tail_percentile(self):
        m, _, t = report.end_to_end(
            [{"id": i, "input": "sf", "query": "q", "latency_s": float(i), "error": None}
             for i in range(21)], {}, 1.0, 1.0, 1.0)
        self.assertIsNone(t)
        self.assertEqual(m["latency_tail_s"], 20.0)


class ErrorAccountingTest(unittest.TestCase):
    def requests(self):
        return [
            {"id": 0, "input": "sf", "query": "good", "latency_s": 1.0, "error": None},
            {"id": 1, "input": "sf", "query": "throws", "latency_s": 0.1,
             "error": "java.lang.IllegalStateException: boom"},
            {"id": 2, "input": "sf", "query": "wrong", "latency_s": 5.0, "error": None},
            {"id": 3, "input": "sf", "query": "good", "latency_s": 2.0, "error": None},
        ]

    def test_wrong_answer_from_the_oracle_check_counts(self):
        con = duckdb.connect()
        self.assertIsNone(run.compare(con, "SELECT 1 AS a, 2.0::DOUBLE AS b",
                                      "SELECT 2.0000001::DOUBLE AS b, 1 AS a"))
        why = run.compare(con, "SELECT 1 AS a, 3.0::DOUBLE AS b",
                          "SELECT 1 AS a, 2.0::DOUBLE AS b")
        self.assertIn("rows differ", why)
        m, failures, _ = report.end_to_end(self.requests(), {("sf", "wrong"): why},
                                           window_s=2.0, setup_s=1.0, cache_mb=1.0)
        self.assertEqual([f[0] for f in failures], [1, 2])
        self.assertIn("IllegalStateException", failures[0][1])
        self.assertEqual(m["success_rate"], 0.5)
        self.assertEqual(m["throughput_qps"], 1.0)

    def test_failed_requests_stay_in_the_latencies(self):
        lat, _ = report.account(self.requests(), {("sf", "wrong"): "rows differ"})
        self.assertEqual(sorted(lat), [0.1, 1.0, 2.0, 5.0])
        m, _, _ = report.end_to_end(self.requests(), {}, 1.0, 1.0, 1.0)
        self.assertEqual(m["latency_p50_s"], 1.5)


    def test_a_throw_outside_the_timed_window_fails_its_pair(self):
        failed_pairs = {}
        cold = [{"id": 0, "input": "sf", "query": "wrong", "latency_s": 9.0,
                 "error": "java.lang.RuntimeException: cold build"},
                {"id": 1, "input": "sf", "query": "good", "latency_s": 1.0, "error": None}]
        self.assertEqual([f[0] for f in report.account_untimed(cold, failed_pairs)], [0])
        self.assertIn("cold build", failed_pairs[("sf", "wrong")])
        m, failures, _ = report.end_to_end(self.requests(), failed_pairs, 1.0, 1.0, 1.0)
        self.assertEqual([f[0] for f in failures], [1, 2])
        self.assertEqual(m["success_rate"], 0.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, name, s, e):
        return {"req": 0, "id": i, "parent": parent, "name": name,
                "start_us": s * 1000, "end_us": e * 1000, "query": "q"}

    def test_layer_self_times_cover_the_wall(self):
        spans = [
            self.span(0, -1, "request", 0, 100),
            self.span(1, 0, "queries.declare", 0, 20),
            self.span(2, 1, "plans.analysis", 5, 10),
            self.span(3, 0, "execute", 20, 100),
            self.span(4, 3, "plans.planning", 20, 25),
            self.span(5, 3, "exec.stage", 30, 60),
            self.span(6, 3, "exec.stage", 50, 80),
            self.span(7, 3, "exec.stage", 90, 120),  # overruns its parent
        ]
        got = report.layer_self_ms(spans)
        self.assertEqual(got, {"queries": 15.0, "plans": 10.0, "write": 0.0,
                               "sched": 15.0, "exec": 60.0})
        self.assertEqual(sum(got.values()), 100.0)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_plan_other_seed_other_plan(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.plan(w, 7), workloads.plan(w, 7))
            self.assertNotEqual(workloads.plan(w, 7)[1], workloads.plan(w, 8)[1])

    def test_blocks_hold_every_pair_once(self):
        block, reqs = workloads.plan("interactive", 3)
        self.assertEqual(block, len(workloads.INTERACTIVE))
        for i in range(0, len(reqs), block):
            self.assertEqual(len(set(reqs[i:i + block])), block)

    def test_same_seed_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                os.makedirs(os.path.join(d, name))
                workloads.write_batch(os.path.join(d, name, "batch.tsv"), seed, run.SF_DIR)
                workloads.write_plan(os.path.join(d, name, "plan.tsv"),
                                     workloads.plan("ingest_refresh", seed)[1])
            files = sorted(os.listdir(os.path.join(d, "a")))
            same, diff, _ = filecmp.cmpfiles(os.path.join(d, "a"), os.path.join(d, "b"),
                                             files, shallow=False)
            self.assertEqual(same, files)
            same, diff, _ = filecmp.cmpfiles(os.path.join(d, "a"), os.path.join(d, "c"),
                                             files, shallow=False)
            self.assertEqual(diff, files)


if __name__ == "__main__":
    unittest.main()
