"""Tests of the benchmark's own helpers. Run: python3 -m unittest perfbench/test_stats.py"""
import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def span(id, name, start, end, parent=-1, op="op#1", **attrs):
    return {"id": id, "name": name, "parent": parent, "op": op,
            "start": start, "end": end, "attrs": attrs}


def job(id, group, submit, **k):
    j = {"id": id, "group": group, "submit": submit, "end": submit + 1,
         "stages": 1, "tasks": 2, "cpu_ms": 1.0, "run_ms": 10,
         "gc_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0}
    j.update(k)
    return j


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(range(10)))

    def test_keeps_ten_samples_beyond(self):
        value, pct, n = stats.tail(range(100))
        self.assertEqual(value, 89)
        self.assertEqual(sum(1 for x in range(100) if x > value), 10)
        self.assertEqual((pct, n), (90.0, 100))

    def test_eleven_samples_gives_the_minimum(self):
        value, pct, n = stats.tail([5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11])
        self.assertEqual((value, n), (1, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_order_does_not_matter(self):
        xs = [3.5, 1.0, 2.25] * 7
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_ms([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_ms([]), 0)

    def test_span_minus_union_of_children(self):
        parent = span(0, "p", 0, 100)
        kids = [span(1, "a", 10, 40, 0), span(2, "b", 30, 50, 0),
                span(3, "c", 70, 80, 0)]
        # children cover 10..50 and 70..80: 50 ms of the parent's 100
        self.assertEqual(stats.self_ms(parent, kids), 50)

    def test_children_are_clipped_to_the_span(self):
        parent = span(0, "p", 10, 20)
        self.assertEqual(stats.self_ms(parent, [span(1, "a", 0, 15, 0)]), 5)
        self.assertEqual(stats.self_ms(parent, [span(1, "a", 30, 40, 0)]), 10)

    def test_swap_is_ingest_self_time(self):
        raw = trace_raw([span(0, "pipeline.ingest", 0, 100),
                         span(1, "pipeline.corporate.stg", 0, 60, 0),
                         span(2, "pipeline.corporate.fct", 60, 97, 0)])
        self.assertEqual(stats.per_layer(raw)["pipeline.swap_ms"], 3)


class FailureTest(unittest.TestCase):
    def test_counts_every_op_and_each_failure(self):
        ops = [{"kind": "put", "phase": p, "ms": 1.0, "ok": ok, "start": 0}
               for p, ok in [("warmup", True), ("measure", False),
                             ("measure", True), ("measure", False)]]
        self.assertEqual(stats.failures(ops), (4, 2))
        raw = {"workload": "upload", "ops": ops}
        self.assertEqual(stats.named(raw)["failed_frac"], 0.5)

    def test_no_ops_no_failures(self):
        self.assertEqual(stats.failures([]), (0, 0))


def trace_raw(spans, jobs=(), workload="upload", ops=()):
    return {"workload": workload, "spans": list(spans), "jobs": list(jobs),
            "ops": list(ops), "nproc": 4, "jvm": {"gc_ms": 0,
            "heap_after_gc_peak_mb": 1}, "stall_max_s": 0, "max_heap_mb": 1,
            "passes_s": {"measure": [], "untraced": [], "traced": []}}


class AttributionTest(unittest.TestCase):
    def test_jobs_by_group_and_by_window(self):
        q = span(0, "query", 0, 100, op="q01#1")
        b = span(1, "query.build", 0, 50, 0, op="q01#1")
        t = stats.Trace(trace_raw([q, b], [
            job(1, "span-1", 10), job(2, "span-0", 60),
            job(3, "", 70), job(4, "", 150), job(5, "span-9", 20)]))
        self.assertEqual([j["id"] for j in t.jobs_of(q)], [1, 2, 3])
        self.assertEqual([j["id"] for j in t.jobs_of(b)], [1])

    def test_pair_differences_match_ops(self):
        t = stats.Trace(trace_raw([
            span(0, "http.put", 0, 30, op="put#1"),
            span(1, "service.upload_arrow", 40, 65, op="put#1"),
            span(2, "http.put", 100, 120, op="put#2")]))
        self.assertEqual(t.pair("http.put", "service.upload_arrow"), [5])


class EndToEndTest(unittest.TestCase):
    SETUP = {"session_s": 1.0, "prep_s": [3.0, 1.0, 2.0], "warmup_s": 0.5}

    def test_service_splits_puts_from_reads(self):
        ops = [{"kind": "report", "phase": "measure", "start": i * 10.0,
                "ms": float(i + 1), "ok": True} for i in range(20)]
        ops += [{"kind": "put", "phase": "measure", "start": 5.0 + i,
                 "ms": ms, "ok": True} for i, ms in enumerate([300.0, 100.0, 200.0])]
        ops.append({"kind": "report", "phase": "warmup", "start": 0,
                    "ms": 999.0, "ok": True})
        raw = {"workload": "service", "ops": ops, "setup": self.SETUP}
        m = stats.end_to_end(raw)
        self.assertEqual(m["setup_s"], 3.5)
        self.assertEqual(m["op_p50_ms"], 200.0)
        # the 11th-largest of the 20 GETs; the PUTs do not count
        self.assertEqual(m["tail_ms"], 10.0)
        # 23 operations from t=0 to the first PUT's end at 305 ms
        self.assertAlmostEqual(m["ops_per_s"], 23 / 0.305)

    def test_queries_headline_is_the_pass(self):
        ops = [{"kind": f"q{i % 7}", "phase": "measure", "start": 100.0 * i,
                "ms": 100.0, "ok": True} for i in range(21)]
        raw = {"workload": "queries", "ops": ops, "setup": self.SETUP,
               "passes_s": {"measure": [0.7, 0.9, 0.8]}}
        m = stats.end_to_end(raw)
        self.assertEqual(m["op_p50_ms"], 800.0)
        self.assertEqual(m["tail_ms"], 100.0)
        self.assertAlmostEqual(m["ops_per_s"], 10.0)

    def test_too_few_requests_is_an_error(self):
        ops = [{"kind": "put", "phase": "measure", "start": 0.0, "ms": 1.0,
                "ok": True}]
        with self.assertRaises(ValueError):
            stats.end_to_end({"workload": "service", "ops": ops,
                              "setup": self.SETUP})

    def test_names_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         stats.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
