"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import metrics  # noqa: E402


def span(id, parent, kind, start, end, op=1, name=None, **attrs):
    return {"id": id, "op": op, "parent": parent, "name": name or kind, "kind": kind,
            "start": start, "end": end, "attrs": attrs}


def job(id, parent, start, end, **over):
    a = dict(stages=1, tasks=4, cpu_ns=0, run_ms=0, gc_ms=0, shuffle_read=0,
             shuffle_write=0, spill=0, bytes_written=0, records_read=0, ok=True)
    a.update(over)
    return span(id, parent, "job", start, end, **a)


class TailRule(unittest.TestCase):
    def test_exactly_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, beyond = metrics.tail(xs)
        self.assertEqual((v, pct, beyond), (90, 90.0, 10))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12, 13, 14, 15]
        v, pct, beyond = metrics.tail(xs)
        self.assertEqual((v, beyond), (5, 10))
        self.assertAlmostEqual(pct, 100 / 3)

    def test_ties_count_only_strictly_beyond(self):
        xs = [1.0] * 5 + [2.0] * 20
        v, _, beyond = metrics.tail(xs)
        self.assertEqual(v, 2.0)
        self.assertEqual(beyond, 0)

    def test_too_few_samples_reports_min_and_true_count(self):
        v, pct, beyond = metrics.tail([3, 1, 2])
        self.assertEqual((v, beyond), (1, 2))
        self.assertAlmostEqual(pct, 100 / 3)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class Means(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(metrics.geomean([2, 2, 2]), 2.0)
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])

    def test_failed_frac(self):
        self.assertEqual(metrics.failed_frac(40, 0), 0.0)
        self.assertEqual(metrics.failed_frac(40, 10), 0.25)
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)

    def test_write_amp(self):
        self.assertEqual(metrics.write_amp(5000, 1000), 5.0)
        with self.assertRaises(ValueError):
            metrics.write_amp(10, 0)


class EndToEnd(unittest.TestCase):
    def test_fastest_unstolen_run_of_each_op(self):
        def op(name, p, secs, steal=0.0, ok=True):
            return {"name": name, "pass": p, "seconds": secs, "steal": steal,
                    "ok": ok, "replay": False, "rows": 10}
        res = {"ops": [op("a", 0, 4.0), op("b", 0, 1.0),        # cold pass: 5 s
                       op("a", 1, 2.0, steal=0.5), op("b", 1, 0.5),  # 1 + 0.5
                       op("a", 2, 1.5, ok=False), op("b", 2, 0.4)],  # failed a skipped
               "setup_s": [10.0, 0.5, 0.4], "setup_steal": [0.0, 0.0, 0.5]}
        m, info = metrics.end_to_end(res)
        self.assertEqual(m["pass_s"], 1.5)
        self.assertAlmostEqual(info["latency_p50_s"], 0.7)     # median of 1.0, 0.4
        self.assertAlmostEqual(m["latency_geomean_s"], 0.4 ** 0.5)
        self.assertAlmostEqual(m["rows_per_s"], 20 / 1.4)
        self.assertEqual(m["setup_s"], 0.5)                    # of 10, 0.5, 0.2
        self.assertEqual(info["latency_n"], 2)

    def test_unstolen(self):
        self.assertEqual(metrics.unstolen(2.0, 0.0), 2.0)
        self.assertEqual(metrics.unstolen(2.0, 0.25), 1.5)


class SelfTime(unittest.TestCase):
    def test_overlapping_parallel_children(self):
        parent = span(1, -1, "op", 0, 100)
        kids = [span(2, 1, "job", 10, 40), span(3, 1, "job", 20, 60),  # overlap
                span(4, 1, "job", 50, 55),                             # nested
                span(5, 1, "job", 80, 90)]
        # union = [10, 60] + [80, 90] = 60
        self.assertEqual(metrics.self_time(parent, kids), 40)

    def test_children_are_clipped_to_the_parent(self):
        parent = span(1, -1, "op", 100, 200)
        kids = [span(2, 1, "job", 50, 150), span(3, 1, "job", 190, 300)]
        self.assertEqual(metrics.self_time(parent, kids), 40)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(span(1, -1, "op", 3, 10), []), 7)


class Layers(unittest.TestCase):
    def result(self):
        ms = 1_000_000
        spans = [
            span(1, -1, "op", 0, 100 * ms, name="q01", group="ops", **{"pass": 0}),
            span(2, 1, "construct", 0, 30 * ms),
            span(3, 1, "action", 30 * ms, 100 * ms),
            job(10, 2, 5 * ms, 20 * ms, cpu_ns=10 * ms, run_ms=12),
            job(11, 3, 40 * ms, 90 * ms, cpu_ns=30 * ms, run_ms=100, shuffle_read=7),
            # a plan whose analysis ran during construction, planning in the action
            span(20, -1, "plan", 10 * ms, 35 * ms, op=-1,
                 analysis_ms=3, optimization_ms=2, planning_ms=1),
            span(5, -1, "op", 200 * ms, 300 * ms, op=5, name="q02", group="text",
                 **{"pass": 1}),
        ]
        return {"spans": spans, "slots": 4, "peak_rss_mb": 900.0, "heap_retained_mb": 70.0,
                "layers": {"expressions.md5_ns_per_row": 50.0},
                "ops": [{"pass": 0, "replay": False, "seconds": 0.1, "steal": 0.0}],
                "passes": [{"pass": 0}]}

    def test_totals_over_the_first_pass(self):
        names = ["queries.construct_s", "queries.construct_jobs", "catalyst.plan_s",
                 "scheduler.jobs", "scheduler.slot_busy_frac", "executor.cpu_s",
                 "executor.shuffle_read_bytes", "ops.wall_s", "text.wall_s",
                 "expressions.md5_ns_per_row", "domain.upsert_s", "trace.pass_s"]
        m = metrics.layers(self.result(), names)
        self.assertEqual(set(m), set(names))
        self.assertAlmostEqual(m["queries.construct_s"], 0.03)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertAlmostEqual(m["catalyst.plan_s"], 0.006)
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertAlmostEqual(m["scheduler.slot_busy_frac"], 0.112 / (0.1 * 4))
        self.assertAlmostEqual(m["executor.cpu_s"], 0.04)
        self.assertEqual(m["executor.shuffle_read_bytes"], 7)
        self.assertAlmostEqual(m["ops.wall_s"], 0.1)
        self.assertEqual(m["text.wall_s"], 0.0)  # pass 1 is not counted
        self.assertEqual(m["expressions.md5_ns_per_row"], 50.0)
        self.assertEqual(m["domain.upsert_s"], 0.0)

    def test_upsert_self_time_and_write_amp(self):
        ms = 1_000_000
        spans = [
            span(1, -1, "op", 0, 100 * ms, name="increment", **{"pass": 0}),
            span(2, 1, "extract", 10 * ms, 12 * ms),
            span(3, 1, "watermark", 0, 10 * ms),
            span(4, 1, "upsert", 12 * ms, 100 * ms),
            job(10, 1, 2 * ms, 8 * ms),                      # the watermark's job
            job(11, 1, 20 * ms, 60 * ms, bytes_written=3000),
            job(12, 1, 40 * ms, 70 * ms, bytes_written=1000),  # overlaps job 11
        ]
        res = {"spans": spans, "slots": 4, "peak_rss_mb": 900.0, "heap_retained_mb": 70.0, "ops": [
            {"pass": 0, "replay": False, "seconds": 0.1, "steal": 0.0, "ok": True},
            {"pass": 0, "replay": True, "seconds": 0.1, "steal": 0.5, "ok": True}],
            "passes": [{"pass": 0}],
            "layers": {"endpoint_calls": [
                {"pass": 0, "seconds": 0.01, "rows": 10, "batch_bytes": 2000}]}}
        m = metrics.layers(res, ["domain.upsert_jobs", "domain.upsert_self_s",
                                 "domain.bytes_written", "domain.write_amp",
                                 "domain.watermark_s", "domain.replay_p50_s"])
        self.assertEqual(m["domain.upsert_jobs"], 2)
        self.assertAlmostEqual(m["domain.upsert_self_s"], 0.088 - 0.050)
        self.assertEqual(m["domain.bytes_written"], 4000)
        self.assertEqual(m["domain.write_amp"], 2.0)
        self.assertAlmostEqual(m["domain.watermark_s"], 0.01)
        self.assertEqual(m["domain.replay_p50_s"], 0.05)


class Stamps(unittest.TestCase):
    def test_refuses_different_environment(self):
        a = {"nproc": 4, "cores": 4, "git_commit": "a", "sf": "0.01"}
        self.assertEqual(compare.stamp_mismatch(a, dict(a, cores=2)), ["cores"])
        self.assertEqual(compare.stamp_mismatch(a, dict(a, git_commit="b")), [])
        rec = {"detail": {"workload": "relational", "stamps": a,
                          "end_to_end": {"pass_s": 2.0}}}
        other = {"detail": dict(rec["detail"], stamps=dict(a, sf="0.001"))}
        with self.assertRaises(ValueError):
            compare.compare(rec, other)
        self.assertEqual(compare.compare(rec, rec), [("pass_s", 2.0, 2.0, 1.0)])


if __name__ == "__main__":
    unittest.main()
