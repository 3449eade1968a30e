#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of graft).

    python3 perfbench/selftest.py

Covers the tail-percentile rule and the sample count it reports, span
self-time arithmetic with nested and overlapping children, job attribution
to streaming micro-batches, agreement of BENCHMARK.json with the metrics the
harness emits, and (building and starting one JVM) that a seed always
generates the same inputs while different seeds generate different ones.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_order_statistic_with_ten_beyond(self):
        value, pct, n = report.tail(list(range(1, 41)))
        self.assertEqual((value, pct, n), (30, 75.0, 40))

    def test_unsorted_input(self):
        samples = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        value, pct, n = report.tail(samples)
        self.assertEqual(value, 2.0)
        self.assertEqual(n, 12)
        self.assertAlmostEqual(pct, 100 * 2 / 12)

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(report.tail(list(range(11)))[:2], (0, 100 / 11))

    def test_ten_or_fewer_samples_reports_the_maximum(self):
        self.assertEqual(report.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(report.tail(list(range(10))), (9, 100.0, 10))


def span(sid, parent, start, end, layer="job", unit=False):
    return [sid, parent, layer, f"s{sid}", unit, start, end]


class SelfTime(unittest.TestCase):
    def test_union_counts_overlaps_once_and_clips(self):
        self.assertEqual(report.union_length([(10, 30), (20, 50), (60, 70)]), 50)
        self.assertEqual(report.union_length([(-5, 10), (95, 120)], 0, 100), 15)
        self.assertEqual(report.union_length([(1, 2), (1, 2), (3, 3)]), 1)

    def test_nested_and_overlapping_children(self):
        tree = report.SpanTree([
            span(1, 0, 0, 100, layer="bench", unit=True),
            span(2, 1, 10, 30),
            span(3, 1, 20, 50),          # overlaps span 2
            span(4, 3, 25, 45, layer="core"),   # nested inside span 3
            span(5, 1, 60, 70),
        ], [])
        self.assertAlmostEqual(tree.self_ms(1), 100 - 50)
        self.assertAlmostEqual(tree.self_ms(3), 30 - 20)
        self.assertAlmostEqual(tree.self_ms(4), 20)
        self.assertAlmostEqual(tree.self_ms(2), 20)

    def test_jobs_are_children_of_their_span(self):
        tree = report.SpanTree(
            [span(1, 0, 0, 100, layer="bench", unit=True), span(2, 1, 0, 80)],
            [[7, 2, 10, 40, [0]], [8, 2, 30, 60, [1]], [9, 99, 0, 1, [2]]])
        self.assertAlmostEqual(tree.self_ms(2), 80 - 50)
        per_layer = report.layer_self_ms(tree)
        self.assertAlmostEqual(per_layer["spark"], 50)
        self.assertAlmostEqual(per_layer["job"], 30)
        self.assertAlmostEqual(per_layer["bench"], 20)

    def test_streaming_jobs_move_into_their_micro_batch(self):
        tree = report.SpanTree([
            span(1, 0, 0, 100, layer="bench"),
            span(2, 1, 0, 100, layer="streaming"),
            span(3, 2, 10, 40, layer="streaming", unit=True),
            span(4, 2, 50, 90, layer="streaming", unit=True),
            span(5, 0, 100, 120, layer="streaming", unit=True),  # outside the timed phase
        ], [[1, 2, 12, 30, [0, 1]], [2, 2, 55, 70, [2]], [3, 2, 56, 80, [3]], [4, 5, 101, 119, [3]]])
        self.assertEqual([j["span"] for j in tree.jobs], [3, 4, 4, 5])
        stages = [[s, 0, 0, 1] for s in range(4)]
        tasks = [[s, 1, 2, 5.0, 1.0, 0.0, 0, 0, 0] for s in range(4)]
        agg = report.spark_per_unit(tree, stages, tasks, [[15, 3.0], [60, 4.0]])
        self.assertEqual(agg["spark.jobs"], 1.5)
        self.assertEqual(agg["spark.stages"], 2)
        self.assertEqual(agg["spark.planning_ms"], 3.5)
        # batch 4 spans 40 ms, its jobs cover 55..80
        self.assertAlmostEqual(agg["spark.driver_gap_ms"], ((30 - 18) + (40 - 25)) / 2)


class BenchmarkJson(unittest.TestCase):
    def test_names_and_units_match_the_harness(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
        self.assertEqual(e2e, report.END_TO_END)
        layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
        self.assertEqual(layers, report.PER_LAYER)
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class InputDigest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        classes, _ = build.build()
        scratch = os.path.join(build.build_dir(), "scratch", f"selftest-{os.getpid()}")
        try:
            for w in run.WORKLOADS:
                os.makedirs(os.path.join(scratch, w, "tmp"))
                cmd = run.jvm_command(classes, [
                    "--digest", w, "--seeds", "7,7,8", "--threads", "2",
                    "--scratch", os.path.join(scratch, w)],
                    os.path.join(scratch, w))
                out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                     text=True, timeout=170, check=True).stdout
                digests = [line.split()[2] for line in out.splitlines() if line.startswith(w)]
                self.assertEqual(len(digests), 3, out)
                self.assertEqual(digests[0], digests[1], w)
                self.assertNotEqual(digests[0], digests[2], w)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
