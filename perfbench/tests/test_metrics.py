"""Specs for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nominal_percentile_when_enough_samples_lie_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p90 leaves 20 beyond
        v, q, n = metrics.percentile(xs, 0.90)
        self.assertEqual((q, n), (0.90, 200))
        self.assertAlmostEqual(v, 180.5, places=6)

    def test_exactly_ten_beyond_is_enough(self):
        _, q, _ = metrics.percentile(list(range(1, 101)), 0.90)
        self.assertEqual(q, 0.90)  # nearest rank 90, 10 samples above it

    def test_lowered_to_the_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples: p90 would leave only 4
        v, q, n = metrics.percentile(xs, 0.90)
        self.assertEqual(n, 40)
        self.assertAlmostEqual(q, 0.75)  # nearest rank 30, 10 above it
        self.assertAlmostEqual(v, 30.5, places=6)

    def test_median_of_a_symmetric_sample(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0] * 6  # 30 samples, unsorted
        v, q, _ = metrics.percentile(xs, 0.50)
        self.assertEqual(q, 0.5)
        self.assertAlmostEqual(v, 3.0, places=6)

    def test_weights_are_a_distribution_centred_on_the_rank(self):
        w = metrics.harrell_davis_weights(22, 0.5)
        self.assertAlmostEqual(sum(w), 1.0, places=9)
        # 22 samples: the median lies between ranks 11 and 12
        top = sorted(range(22), key=w.__getitem__)[-2:]
        self.assertEqual({i + 1 for i in top}, {11, 12})

    def test_two_ops_trading_one_sample_barely_move_it(self):
        # the median rank sits on the boundary between a 1 s and a 2 s op;
        # the nearest-rank value would jump from 1 to 2
        a, _, _ = metrics.percentile([1.0] * 11 + [2.0] * 11, 0.5)
        b, _, _ = metrics.percentile([1.0] * 10 + [2.0] * 12, 0.5)
        self.assertLess(b - a, 0.2)

    def test_too_few_samples_is_an_error_not_a_fake_figure(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(10)), 0.5)


class EndToEnd(unittest.TestCase):
    @staticmethod
    def record(n_counted, n_extra, fail_one=False):
        passes, samples = [], []
        for p in range(1, n_counted + n_extra + 1):
            passes.append({"pass": p, "wall_s": 10.0 + p, "traced": False,
                           "counted": p <= n_counted,
                           "bytes": {"output": 100, "shuffle_write": 0,
                                     "spill": 0}})
            for i in range(6):
                samples.append({"op": f"o{i}", "pass": p,
                                "wall_s": float(i + 1)})
        samples.append({"op": "o0", "pass": 0, "wall_s": 99.0})  # warm
        if fail_one:
            samples[0] = {"op": "o0", "pass": 1, "wall_s": 30.0,
                          "error": "timeout after 30s"}
        setups = [{"session_s": 1.0, "warmup_s": 1.0, "prewarm_s": s}
                  for s in (2.0, 4.0)]
        return {"passes": passes, "samples": samples, "setups": setups,
                "vm_hwm_kb": 1024}

    def test_only_counted_passes_are_measured(self):
        m, d = metrics.end_to_end(self.record(4, 3), 1000)
        self.assertEqual((d["samples"], d["passes"]), (24, 4))
        self.assertEqual(m["wall_s"], 12.5)
        self.assertAlmostEqual(m["op_p50_s"], 3.5)  # 1..6, four each
        self.assertEqual(m["setup_s"], 5.0)
        self.assertEqual(m["write_amp"], 0.1)

    def test_sample_count_does_not_depend_on_elapsed_time(self):
        a = metrics.end_to_end(self.record(4, 0), 1000)
        b = metrics.end_to_end(self.record(4, 5), 1000)
        self.assertEqual(a, b)

    def test_a_failed_sample_keeps_its_place(self):
        _, d = metrics.end_to_end(self.record(4, 0, fail_one=True), 1000)
        self.assertEqual(d["samples"], 24)


class LayerMap(unittest.TestCase):
    """layers.json maps every declared per-layer metric to declared
    end-to-end metrics (or the result's `failed` count) on declared
    workloads."""

    def test_every_per_layer_metric_is_mapped_to_declared_names(self):
        root = os.path.join(os.path.dirname(__file__), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        with open(os.path.join(root, "perfbench", "layers.json")) as fh:
            layers = json.load(fh)
        e2e = {m["name"] for m in bench["end_to_end"]} | {"failed"}
        workloads = {w["name"] for w in bench["workloads"]}
        self.assertEqual(set(layers), {m["name"] for m in bench["per_layer"]})
        for name, v in layers.items():
            self.assertLessEqual(set(v["moves"]), e2e, name)
            self.assertLessEqual(set(v["on"]), workloads, name)


class DriverOther(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)

    def test_union_of_nested_and_touching_spans(self):
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20), (100, 110)]),
                         110)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_other_is_wall_minus_job_union_minus_planning(self):
        # 1000 ms op: jobs cover 0-300 and 200-500 (union 500), planning 120
        self.assertEqual(
            metrics.driver_other_ms(1000, [(0, 300), (200, 500)], 120), 380)

    def test_summing_overlapping_jobs_would_undercount(self):
        spans = [(0, 400), (0, 400), (0, 400)]
        self.assertEqual(metrics.driver_other_ms(1000, spans, 0), 600)

    def test_never_negative(self):
        self.assertEqual(metrics.driver_other_ms(100, [(0, 90)], 50), 0)


class FailedFrac(unittest.TestCase):
    EXPECTED = {"a": {"rows": 3, "hash": "7"}, "b": {"rows": 1, "hash": "9"}}

    def test_counts_throws_timeouts_and_mismatches(self):
        samples = [
            {"op": "a", "rows": 3, "hash": "7"},          # ok
            {"op": "a", "error": "timeout after 60s"},    # timeout
            {"op": "b", "error": "IllegalStateException"},  # threw
            {"op": "b", "rows": 2, "hash": "9"},          # row count off
            {"op": "b", "rows": 1, "hash": "8"},          # content off
            {"op": "b", "rows": 1, "hash": 9},            # same hash, int
        ]
        self.assertEqual(metrics.failure_counts(samples, self.EXPECTED),
                         (6, 4, 2))

    def test_clean_run(self):
        samples = [{"op": "a", "rows": 3, "hash": "7"}] * 5
        self.assertEqual(metrics.failure_counts(samples, self.EXPECTED),
                         (5, 0, 0))


class WriteAmp(unittest.TestCase):
    def test_numerator_is_output_plus_shuffle_plus_spill(self):
        b = {"output": 300, "shuffle_write": 500, "spill": 200}
        self.assertEqual(metrics.write_amp(b, 1000), 1.0)

    def test_denominator_is_corpus_bytes(self):
        b = {"output": 0, "shuffle_write": 50, "spill": 0}
        self.assertEqual(metrics.write_amp(b, 200), 0.25)

    def test_empty_corpus_is_rejected(self):
        with self.assertRaises(ValueError):
            metrics.write_amp({"output": 1, "shuffle_write": 0, "spill": 0}, 0)


class Attribution(unittest.TestCase):
    SAMPLES = [
        {"op": "x", "pass": 1, "start": 1000.0, "end": 1500.0,
         "wall_s": 0.5, "build_s": 0.1, "rows": 10},
        {"op": "y", "pass": 1, "start": 1500.0, "end": 2500.0,
         "wall_s": 1.0, "build_s": 0.4, "rows": 2},
    ]

    def trace(self):
        return {
            "jobs": [{"start": 1100, "end": 1300, "group": "x#1"},
                     {"start": 1200, "end": 1400, "group": "x#1"},
                     {"start": 1600, "end": 2000, "group": "y#1"},
                     {"start": 900, "end": 950, "group": ""}],  # setup
            "stages": [{"t": 1300, "tasks": 4}, {"t": 2000, "tasks": 4}],
            "tasks": [{"t": 1290, "failed": 0, "cpu_ns": 2e6, "gc_ms": 1,
                       "shuffle_write": 1 << 20, "shuffle_read": 0,
                       "spill": 0, "peak_mem": 1 << 21, "input": 0,
                       "output": 0, "records_written": 0},
                      {"t": 1990, "failed": 1}],
            "queries": [{"t": 1010, "analysis_ms": 20, "optimization_ms": 30,
                         "planning_ms": 10, "files_scanned": 2,
                         "rows_scanned": 100, "files_written": 0}],
            "streaming": [{"t": 1700, "add_batch_ms": 40,
                           "wal_commit_ms": 5, "query_planning_ms": 3,
                           "trigger_ms": 60}],
        }

    def test_spans_land_on_their_op(self):
        x, y = metrics.per_op_spans(self.SAMPLES, self.trace())
        self.assertEqual((x["jobs"], y["jobs"]), (2, 1))
        self.assertEqual(x["job_ms"], 300)  # union of 1100-1300, 1200-1400
        self.assertEqual(x["driver_other_ms"], 500 - 300 - 60)
        self.assertEqual(x["shuffle_write_mb"], 1.0)
        self.assertEqual(x["peak_exec_mem_mb"], 2.0)
        self.assertEqual((x["failed_tasks"], y["failed_tasks"]), (0, 1))
        self.assertEqual((y["batches"], y["add_batch_ms"]), (1, 40))
        self.assertEqual(y["driver_other_ms"], 1000 - 400)


if __name__ == "__main__":
    unittest.main()
