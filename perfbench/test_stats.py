"""Tests of the benchmark's own arithmetic. Run: python3 perfbench/test_stats.py"""

import json
import unittest
from pathlib import Path

import stats


def op(kind, ms, ok=True, phase="measure", start=0.0, traced=False, client=0):
    return {"kind": kind, "phase": phase, "start": start, "ms": ms, "ok": ok,
            "traced": traced, "client": client}


def span(id, parent, name, start, end, **attrs):
    return {"id": id, "parent": parent, "name": name, "start": start, "end": end,
            "attrs": attrs}


def job(id, group, start, end, **attrs):
    base = {"tasks": 4.0, "task_cpu_ms": 10.0, "rows_read": 100.0,
            "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "wait_ms": 2.0}
    base.update(attrs)
    return span(id, group, "job", start, end, **base)


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0), 1)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 100), 4)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_supported_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.supported_percentile(19))
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertEqual(stats.supported_percentile(39), 50)
        self.assertEqual(stats.supported_percentile(40), 75)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(199), 90)
        self.assertEqual(stats.supported_percentile(200), 95)
        self.assertEqual(stats.supported_percentile(1000), 99)
        self.assertEqual(stats.supported_percentile(10000), 99.9)


class AccountingTest(unittest.TestCase):
    def test_failures_count_against_attempts_and_are_never_samples(self):
        ops = [op("exact", 100), op("exact", 5, ok=False), op("medium", 300),
               op("exact", 900, phase="warmup"), op("listing", 1, ok=False, phase="warmup"),
               op("final_ids", 50, phase="check", ok=False)]
        attempted, failed, samples = stats.account(ops, "serve_search")
        self.assertEqual(attempted, 6)
        self.assertEqual(failed, 3)
        self.assertEqual(sorted(samples), [100, 300])

    def test_only_the_workloads_timed_kinds_are_samples(self):
        ops = [op("exact", 10), op("final_ids", 99), op("listing", 30)]
        self.assertEqual(sorted(stats.account(ops, "serve_search")[2]), [10, 30])
        self.assertEqual(len(stats.account([op("any_line", 5)], "batch_lines")[2]), 1)

    def test_mix_latency_weights_per_kind_medians(self):
        w = {"a": 0.5, "b": 0.25, "c": 0.25}
        by = {"a": [1, 2, 3], "b": [10, 10], "c": [20, 30, 40]}
        self.assertAlmostEqual(stats.mix_latency(by, w), 0.5 * 2 + 0.25 * 10 + 0.25 * 30)
        # a kind with no sample drops out and the other shares are rescaled
        self.assertAlmostEqual(stats.mix_latency({"a": [2], "b": []}, w), 2)
        self.assertAlmostEqual(stats.mix_latency({"x": [1], "y": [3]}), 2)
        self.assertEqual(stats.mix_latency({}, w), 0.0)

    def test_design_drift_names_a_mismatch(self):
        mix = {"exact": 0.3, "medium": 0.3, "radius": 0.1, "filtered": 0.2, "listing": 0.1}
        self.assertIsNone(stats.design_drift({"design": mix}, "serve_search"))
        self.assertIsNotNone(stats.design_drift({"design": dict(mix, exact=0.4)}, "serve_search"))
        self.assertIsNotNone(stats.design_drift({}, "serve_search"))
        self.assertIsNone(stats.design_drift({"design": list(stats.LINES)}, "batch_lines"))
        self.assertIsNotNone(stats.design_drift({"design": stats.LINES[::-1]}, "batch_lines"))


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [span("r", "", "request", 0, 100),
                 span("h", "r", "handler", 10, 90),
                 span("j1", "h", "job", 20, 50),
                 span("j2", "h", "job", 40, 60),
                 # a child reaching past its parent is clipped to it
                 span("j3", "h", "job", 80, 120)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs["r"], 20)
        self.assertEqual(selfs["h"], 80 - 40 - 10)
        self.assertEqual(selfs["j1"], 30)
        self.assertEqual(selfs["j3"], 40)


class PerLayerTest(unittest.TestCase):
    def test_serving_spans_attribute_jobs_to_requests(self):
        raw = {"ops": [op("exact", 100, traced=True), op("exact", 200, traced=False),
                       op("listing", 50, traced=True, ok=False)],
               "layer": {"raw.live_rows": 100.0, "raw.plan_ms": 6.0, "raw.gc_ms": 2.0}}
        spans = [span("r:exact-1", "", "request", 0, 100),
                 span("h:exact-1", "r:exact-1", "handler", 10, 90),
                 job("job1", "h:exact-1", 20, 40, rows_read=150.0),
                 job("job2", "h:exact-1", 40, 60, rows_read=50.0),
                 span("r:listing-2", "", "request", 200, 250),
                 span("h:listing-2", "r:listing-2", "handler", 205, 245),
                 job("job3", "h:listing-2", 210, 220, rows_read=0.0),
                 # direct-phase jobs are not part of the measured window
                 job("job4", "d:b:0", 300, 310),
                 span("d:b:0", "d:0", "collection.build", 300, 320)]
        out = stats.per_layer(raw, spans, "serve_search")
        self.assertEqual(set(out), {n for n, _ in stats.PER_LAYER})
        self.assertEqual(out["serving.jobs_per_search"], 1.5)
        self.assertEqual(out["serving.handler_ms.search"], (80 + 40) / 2)
        self.assertEqual(out["serving.transport_ms"], (20 + 10) / 2)
        self.assertEqual(out["collection.rows_read_frac"], 1.0)
        self.assertEqual(out["collection.search_build_ms"], 20)
        self.assertEqual(out["operators.task_cpu_ms_per_search"], 15)
        # two traced timed ops, a failed one included; job4 is not counted
        self.assertEqual(out["spark.jobs"], 1.5)
        self.assertEqual(out["spark.plan_ms"], 3)
        self.assertEqual(out["trace.overhead_frac"], 100 / 200 - 1)
        self.assertEqual(out["self_ms.handler"], ((80 - 40) + (40 - 10)) / 2)

    def test_api_writes_are_outside_the_measured_window(self):
        raw = {"ops": [op("exact", 100, traced=True),
                       op("insert", 900, phase="write", traced=True),
                       op("delete", 700, phase="write", traced=True)],
               "layer": {}}
        spans = [span("h:exact-1", "r:exact-1", "handler", 0, 90),
                 job("job1", "h:exact-1", 10, 80),
                 span("h:insert-2", "r:insert-2", "handler", 100, 1000),
                 job("job2", "h:insert-2", 110, 500),
                 job("job3", "h:insert-2", 500, 990),
                 span("h:delete-3", "r:delete-3", "handler", 1000, 1700),
                 job("job4", "h:delete-3", 1010, 1690),
                 span("h:compact-4", "r:compact-4", "handler", 2000, 2300)]
        out = stats.per_layer(raw, spans, "serve_search")
        self.assertEqual(out["serving.handler_ms.write"], (900 + 700) / 2)
        self.assertEqual(out["serving.jobs_per_write"], 1.5)
        self.assertEqual(out["collection.write_ms.insert"], 900)
        self.assertEqual(out["collection.write_ms.delete"], 700)
        self.assertEqual(out["collection.write_ms.update"], 0)
        self.assertEqual(out["collection.compact_ms"], 300)
        # only the search's job counts toward the Spark engine's figures
        self.assertEqual(out["spark.jobs"], 1)
        self.assertEqual(out["spark.task_cpu_ms"], 10)

    def test_line_phases_and_jobs(self):
        raw = {"ops": [op("knn_cosine", 100, traced=True)], "layer": {}}
        spans = [span("l:2:knn_cosine", "", "line", 0, 100),
                 span("c:2:knn_cosine", "l:2:knn_cosine", "construct", 0, 30),
                 span("e:2:knn_cosine", "l:2:knn_cosine", "execute", 30, 100),
                 span("p:2:knn_cosine:planning", "e:2:knn_cosine", "plan", 30, 35),
                 job("job1", "c:2:knn_cosine", 5, 25, task_cpu_ms=1000.0),
                 job("job2", "e:2:knn_cosine", 40, 90, task_cpu_ms=500.0)]
        out = stats.per_layer(raw, spans, "batch_lines")
        self.assertAlmostEqual(out["line.knn_cosine.wall_s"], 0.1)
        self.assertAlmostEqual(out["line.knn_cosine.construct_s"], 0.03)
        self.assertAlmostEqual(out["line.knn_cosine.exec_s"], 0.07)
        self.assertEqual(out["line.knn_cosine.jobs"], 2)
        self.assertAlmostEqual(out["line.knn_cosine.task_cpu_s"], 1.5)
        self.assertEqual(out["spark.plan_ms"], 5)
        self.assertEqual(out["self_ms.execute"], 70 - 50 - 5)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_benchmark_file(self):
        bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], stats.PER_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(stats.MIX))


if __name__ == "__main__":
    unittest.main()
