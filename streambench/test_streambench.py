"""Self-tests for the benchmark's measurement rules (no Spark needed).

    python3 -m pytest streambench/test_streambench.py -q
    python3 streambench/test_streambench.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procstat  # noqa: E402
from stats import (  # noqa: E402
    Span,
    coverage,
    freshness,
    percentile,
    self_time_by_name,
    self_times,
    tail_percentile,
    union_length,
)
from run import END_TO_END, PER_LAYER, _blocking  # noqa: E402
from tracing import Tracer, _epoch  # noqa: E402
from workloads import _interval_s, per_query, zipf_sampler  # noqa: E402


class FreshnessTest(unittest.TestCase):
    def test_in_order_delivery_known_answer(self):
        due = {"a": [0.0, 1.0, 2.0], "b": [0.5]}
        reads = [
            (1.5, {"a": 1}),            # a0 seen at 1.5
            (2.5, {"a": 3, "b": 1}),    # a1, a2, b0 seen at 2.5
        ]
        fr = freshness(due, reads)
        self.assertEqual(sorted(fr.latencies), [0.5, 1.5, 1.5, 2.0])
        self.assertEqual(fr.failed, 0)

    def test_reads_out_of_time_order_are_sorted(self):
        due = {"a": [0.0, 1.0]}
        fr = freshness(due, [(3.0, {"a": 2}), (1.0, {"a": 1})])
        self.assertEqual(sorted(fr.latencies), [1.0, 2.0])

    def test_empty_view_fails_every_record(self):
        due = {"a": [0.0, 1.0], "b": [2.0]}
        fr = freshness(due, [(5.0, {}), (6.0, {"a": 0})])
        self.assertEqual(fr.latencies, [])
        self.assertEqual(fr.unseen, 3)
        self.assertEqual(fr.failed, 3)

    def test_no_reads_at_all(self):
        fr = freshness({"a": [0.0]}, [])
        self.assertEqual(fr.failed, 1)

    def test_duplicated_delivery_counts_as_failed(self):
        # two records put; the view counts three: one was delivered twice
        due = {"a": [0.0, 1.0]}
        fr = freshness(due, [(2.0, {"a": 3})])
        self.assertEqual(fr.duplicates, 1)
        self.assertEqual(fr.unseen, 0)
        self.assertEqual(fr.failed, 1)
        self.assertEqual(sorted(fr.latencies), [1.0, 2.0])

    def test_early_duplicate_is_caught_before_all_puts(self):
        # at t=0.5 only one record is due, but the view already counts two
        due = {"a": [0.0, 1.0]}
        fr = freshness(due, [(0.5, {"a": 2}), (2.0, {"a": 2})])
        self.assertEqual(fr.duplicates, 1)
        # the second record is not credited before it was put
        self.assertEqual(sorted(fr.latencies), [0.5, 1.0])

    def test_closed_bulk_is_one_partition_due_at_start(self):
        due = {"all": [10.0] * 4}
        fr = freshness(due, [(11.0, {"all": 2}), (13.0, {"all": 4})])
        self.assertEqual(sorted(fr.latencies), [1.0, 1.0, 3.0, 3.0])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(percentile(vals, 50), 50)
        self.assertEqual(percentile(vals, 99), 99)
        self.assertEqual(percentile(vals, 100), 100)
        self.assertEqual(percentile([], 50), 0.0)
        self.assertEqual(percentile([7.0], 99), 7.0)

    def test_tail_rule_keeps_ten_samples_beyond(self):
        self.assertEqual(tail_percentile(10_000), 99.9)
        self.assertEqual(tail_percentile(1_000), 99.0)
        self.assertEqual(tail_percentile(999), 95.0)
        self.assertEqual(tail_percentile(200), 95.0)
        self.assertEqual(tail_percentile(199), 90.0)
        self.assertEqual(tail_percentile(100), 90.0)
        self.assertEqual(tail_percentile(40), 75.0)
        self.assertEqual(tail_percentile(20), 50.0)
        self.assertIsNone(tail_percentile(19))


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children_once(self):
        spans = [
            Span(1, None, "round", 0.0, 10.0),
            Span(2, 1, "ingest", 1.0, 5.0),
            Span(3, 1, "dashboard.read", 4.0, 6.0),   # overlaps ingest
            Span(4, 2, "batch.archive", 2.0, 3.0),
            Span(5, 1, "verify", 9.0, 12.0),          # clipped at 10
        ]
        st = self_times(spans)
        # round: 10 - union([1,5],[4,6],[9,10]) = 10 - 6
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertAlmostEqual(st[5], 3.0)
        by = self_time_by_name(spans)
        self.assertAlmostEqual(by["round"], 4.0)

    def test_union_length(self):
        self.assertAlmostEqual(union_length([(0, 1), (0.5, 2), (3, 4)]), 3.0)
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(2, 1)]), 0.0)

    def test_coverage_drops_with_a_gap(self):
        # a 10 s window whose spans leave 2..4 uncovered
        self.assertAlmostEqual(coverage([(0, 2), (4, 10)], [(0, 10)]), 0.8)
        # overlapping spans count once; spans outside the window do not
        self.assertAlmostEqual(
            coverage([(0, 6), (5, 10), (12, 20)], [(0, 10)]), 1.0)
        # two windows; the spans between them are ignored
        self.assertAlmostEqual(
            coverage([(1, 2), (2, 8), (10, 11)], [(0, 2), (10, 12)]), 0.5)
        self.assertEqual(coverage([(0, 1)], []), 0.0)

    def test_only_engine_and_generator_spans_block(self):
        self.assertTrue(_blocking("batch.archive"))
        self.assertTrue(_blocking("generate.tick"))
        for name in ("ingest", "drain", "round", "run", "dashboard.read",
                     "phase.addBatch"):
            self.assertFalse(_blocking(name), name)

    def test_tracer_nests_and_is_free_when_off(self):
        tr = Tracer(True)
        with tr.span("a") as a:
            with tr.span("b") as b:
                pass
        spans = {s.span_id: s for s in tr.spans}
        self.assertEqual(spans[b].parent_id, a)
        self.assertIsNone(spans[a].parent_id)
        off = Tracer(False)
        with off.span("a") as sid:
            self.assertIsNone(sid)
        self.assertEqual(off.spans, [])

    def test_progress_phases_become_children_without_trigger(self):
        tr = Tracer(True)
        prog = [{
            "timestamp": "2026-01-01T00:00:00.000Z",
            "batchId": 3,
            "numInputRows": 10,
            "durationMs": {"triggerExecution": 100, "addBatch": 60,
                           "latestOffset": 10, "walCommit": 5},
        }]
        tr.add_progress("archive", prog, None)
        names = sorted(s.name for s in tr.spans)
        self.assertEqual(names, ["batch.archive", "phase.addBatch",
                                 "phase.latestOffset", "phase.walCommit"])
        batch = next(s for s in tr.spans if s.name == "batch.archive")
        self.assertAlmostEqual(batch.duration, 0.1, places=5)
        self.assertAlmostEqual(batch.start, _epoch("2026-01-01T00:00:00.0Z"))
        self.assertAlmostEqual(self_times(tr.spans)[batch.span_id], 0.025,
                               places=5)


class PerQueryTest(unittest.TestCase):
    def test_framework_excludes_add_batch_and_trigger(self):
        prog = [
            {"numInputRows": 0, "durationMs": {"triggerExecution": 50}},
            {"numInputRows": 100, "durationMs": {
                "triggerExecution": 1000, "addBatch": 800,
                "latestOffset": 20, "getBatch": 5, "queryPlanning": 30,
                "walCommit": 40, "commitOffsets": 50}},
        ]
        m = per_query(prog, wall_s=2.0)
        self.assertEqual(m["batches"], 1.0)
        self.assertEqual(m["rows_per_batch_p50"], 100.0)
        self.assertEqual(m["add_batch_ms_p50"], 800.0)
        self.assertEqual(m["framework_ms_p50"], 145.0)
        self.assertAlmostEqual(m["busy_share"], 0.525)

    def test_absent_query_reports_zero(self):
        m = per_query([], wall_s=1.0)
        self.assertEqual(set(m.values()), {0.0})


class InputsTest(unittest.TestCase):
    def test_zipf_is_seeded_and_skewed(self):
        a = zipf_sampler(random.Random(1), 1000)
        b = zipf_sampler(random.Random(1), 1000)
        xs = [a() for _ in range(5000)]
        self.assertEqual(xs, [b() for _ in range(5000)])
        self.assertGreater(xs.count(0), xs.count(500) * 10)
        self.assertTrue(all(0 <= x < 1000 for x in xs))


    def test_trigger_interval_parse(self):
        self.assertEqual(_interval_s("500 milliseconds"), 0.5)
        self.assertEqual(_interval_s("2 seconds"), 2.0)


class ManifestTest(unittest.TestCase):
    def test_benchmark_json_names_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual(
            [(m["name"], m["unit"]) for m in spec["end_to_end"]],
            list(END_TO_END))
        self.assertEqual(
            [(m["name"], m["unit"]) for m in spec["per_layer"]],
            list(PER_LAYER))


class ProcTest(unittest.TestCase):
    def test_own_process_is_the_driver(self):
        cpu = procstat.cpu_by_role()
        self.assertGreater(cpu["driver"], 0.0)
        self.assertGreater(procstat.peak_rss_mb(), 0.0)

    def test_steal_is_a_part_of_all_ticks(self):
        total, steal = procstat.cpu_ticks()
        self.assertGreater(total, 0)
        self.assertTrue(0 <= steal <= total)


if __name__ == "__main__":
    unittest.main()
