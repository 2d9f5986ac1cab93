"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import oracle  # noqa: E402
import tracing  # noqa: E402


def span(sid, start, end, parent=0, name="gold.view_read", cycle=0):
    return {"id": sid, "name": name, "parent": parent, "cycle": cycle,
            "start": start, "end": end}


class TailTest(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertEqual(tracing.tail(range(1, 101)), 90)
        self.assertIsNone(tracing.tail(range(1, 100)))

    def test_small_and_empty_samples_have_no_tail(self):
        self.assertIsNone(tracing.tail([5.0] * 10))
        self.assertIsNone(tracing.tail([]))

    def test_unsorted_input(self):
        xs = list(range(200, 0, -1))
        self.assertEqual(tracing.tail(xs), 180)
        self.assertEqual(tracing.tail(xs, q=0.99), None)


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_union_of_children(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 30, 1), span(3, 20, 40, 1), span(4, 60, 70, 1)]
        own = tracing.self_intervals(parent, kids)
        self.assertEqual(own, [(0, 10), (40, 60), (70, 100)])
        self.assertEqual(tracing.length(own), 100 - 30 - 10)

    def test_children_are_clipped_to_the_parent(self):
        own = tracing.self_intervals(span(1, 0, 10), [span(2, -5, 4, 1), span(3, 8, 20, 1)])
        self.assertEqual(own, [(4, 8)])

    def test_no_children_is_the_whole_span(self):
        self.assertEqual(tracing.self_intervals(span(1, 3, 9), []), [(3, 9)])

    def test_layer_self_is_own_time_under_a_stage(self):
        m, driver = tracing.aggregate(CYCLE_SPANS, CYCLE_STAGES, 1)
        # stage 0 covers 5..10 of the pipeline's own time, 10..15 of silver's
        self.assertAlmostEqual(m["pipeline.self_s"], 0.005)
        self.assertAlmostEqual(m["silver.self_s"], 0.005)
        self.assertAlmostEqual(m["gold.self_s"], 0.018)
        self.assertAlmostEqual(m["silver.fact_trips_s"], 0.010)
        self.assertAlmostEqual(driver, 0.1 - 0.028)


def stage(sid, start, end):
    return {"ev": "stage", "stage": sid, "start": start, "end": end, "tasks": 1,
            "cpu_ns": 0, "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            "input_bytes": 0, "output_bytes": 0}


CYCLE_SPANS = [span(1, 0, 100, name="cycle"),
               span(2, 0, 60, 1, name="pipeline.full_etl"),
               span(3, 10, 20, 2, name="silver.fact_trips"),
               span(4, 70, 90, 1, name="gold.view_read")]
CYCLE_STAGES = [stage(0, 5, 15), stage(1, 72, 95)]


def traced_run(spans, events, wall_s):
    return {"cycles": [{"cycle": 0, "timed": True, "traced": True,
                        "wall_s": wall_s, "cpu_s": 0.0}],
            "spans": spans, "events": events, "counters": []}


class BalanceTest(unittest.TestCase):
    """Layer self plus driver self time against the harness's cycle wall."""

    def test_spans_covering_the_cycle_balance(self):
        _, balanced, (spanned, wall) = tracing.per_layer(
            traced_run(CYCLE_SPANS, CYCLE_STAGES, 0.1003))
        self.assertTrue(balanced)
        self.assertAlmostEqual(spanned, 0.1)
        self.assertAlmostEqual(wall, 0.1003)

    def test_stage_outside_every_span_breaks_the_balance(self):
        # no root span: stage 2 runs between the spans, in no span at all,
        # and the harness's wall still counts it
        spans = [span(2, 0, 60, name="pipeline.full_etl"),
                 span(4, 70, 90, name="gold.view_read")]
        events = CYCLE_STAGES + [stage(2, 61, 69)]
        _, balanced, (spanned, wall) = tracing.per_layer(traced_run(spans, events, 0.1))
        self.assertFalse(balanced)
        self.assertAlmostEqual(spanned, 0.08)


class AttributionTest(unittest.TestCase):
    spans = [span(1, 0, 100, name="cycle"),
             span(2, 0, 50, 1, name="pipeline.full_etl"),
             span(3, 50, 100, 1, name="gold.view_read")]

    def test_tagged_job_goes_to_its_span(self):
        self.assertEqual(tracing.attribute(10, 60, self.spans, tag=3), 3)

    def test_untagged_job_goes_to_the_span_whose_self_time_it_overlaps_most(self):
        self.assertEqual(tracing.attribute(30, 60, self.spans), 2)
        self.assertEqual(tracing.attribute(45, 90, self.spans), 3)

    def test_deepest_span_wins_a_tie(self):
        # the root overlaps as much as its child; the child is deeper
        self.assertEqual(tracing.attribute(10, 20, self.spans), 2)

    def test_stale_tag_falls_back_to_overlap(self):
        # a pool thread still carries span 2's id long after it closed
        self.assertEqual(tracing.attribute(70, 80, self.spans, tag=2), 3)

    def test_job_outside_every_span_is_unattributed(self):
        self.assertIsNone(tracing.attribute(200, 210, self.spans))

    def test_jobs_count_toward_the_layer_of_their_span(self):
        events = [{"ev": "job_start", "job": 7, "t": 55, "span": None, "stages": [3]},
                  {"ev": "job_end", "job": 7, "t": 70},
                  {"ev": "stage", "stage": 3, "start": 56, "end": 69, "tasks": 4,
                   "cpu_ns": 2e9, "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0,
                   "input_bytes": 1048576, "output_bytes": 0}]
        m, _ = tracing.aggregate(self.spans, events, 1)
        self.assertEqual(m["gold.jobs"], 1)
        self.assertEqual(m["gold.tasks"], 4)
        self.assertAlmostEqual(m["gold.cpu_s"], 2.0)
        self.assertAlmostEqual(m["gold.input_mb"], 1.0)
        self.assertEqual(m["pipeline.jobs"], 0)


    def test_write_follows_the_jobs_of_its_sql_execution(self):
        # the write's end time lies just past the span that ran it
        events = [{"ev": "job_start", "job": 1, "t": 10, "span": 2, "exec": 5, "stages": []},
                  {"ev": "job_end", "job": 1, "t": 49},
                  {"ev": "write", "t": 50.5, "exec": 5, "files": 3},
                  {"ev": "write", "t": 60, "exec": 9, "files": 1}]
        spans = [span(1, 0, 100, name="cycle"),
                 span(2, 0, 50, 1, name="bronze.append"),
                 span(3, 50.2, 100, 1, name="merge.upsert")]
        m, _ = tracing.aggregate(spans, events, 1)
        self.assertEqual(m["bronze.output_files"], 3)
        self.assertEqual(m["merge.output_files"], 1)


class DigestTest(unittest.TestCase):
    def test_order_insensitive_and_value_exact(self):
        a = oracle.digest(["b", "a"], [(1, "x"), (2.5, "y")])
        b = oracle.digest(["a", "b"], [("y", 2.5), ("x", 1.0)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["a", "b"], [("y", 2.5000001), ("x", 1)]))

    def test_row_count_is_part_of_the_digest(self):
        self.assertTrue(oracle.digest(["a"], [(1,), (2,)]).startswith("2:a:"))


if __name__ == "__main__":
    unittest.main()
