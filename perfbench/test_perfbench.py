"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The generator test compiles the benchmark
on first use (see run.py) and starts three short JVMs.
"""

import hashlib
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 7)]), 4)

    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (8, 12), (12, 15)]), 15)

    def test_unsorted_input(self):
        self.assertEqual(metrics.union_length([(8, 9), (0, 4), (3, 6)]), 7)

    def test_clipping_to_the_span(self):
        self.assertEqual(metrics.union_length([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_is_wall_minus_job_cover(self):
        span = {"start_ms": 1000, "end_ms": 2000, "jobs": [[1100, 1400], [1300, 1500], [1900, 2100]]}
        self.assertAlmostEqual(metrics.driver_gap_s(span), 0.5)

    def test_driver_gap_without_jobs_is_the_wall_time(self):
        self.assertAlmostEqual(
            metrics.driver_gap_s({"start_ms": 0, "end_ms": 250, "jobs": []}), 0.25)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 0.9), 90)
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)

    def test_samples_beyond(self):
        self.assertEqual(metrics.samples_beyond(100, 0.9), 10)
        self.assertEqual(metrics.samples_beyond(99, 0.9), 9)
        self.assertEqual(metrics.samples_beyond(20, 0.5), 10)
        self.assertEqual(metrics.samples_beyond(0, 0.9), 0)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 0.99)
        self.assertEqual(metrics.tail_percentile(100), 0.9)
        self.assertEqual(metrics.tail_percentile(99), 0.75)
        self.assertEqual(metrics.tail_percentile(40), 0.75)
        self.assertEqual(metrics.tail_percentile(20), 0.5)
        self.assertIsNone(metrics.tail_percentile(15))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


def span(name, op, start, end, jobs=(), **kw):
    base = {"name": name, "op": op, "start_ms": start, "end_ms": end, "jobs": list(jobs),
            "tasks": 1, "run_ms": 0, "cpu_ns": 0, "shuffle_write_b": 0, "shuffle_read_b": 0,
            "spill_b": 0, "input_rows": 0, "output_b": 0, "output_files": 0, "plan_ms": 0,
            "fs_list_ops": 0, "fs_ops": 0, "fs_written_b": 0, "gc_ms": 0}
    base.update(kw)
    return base


class PerLayer(unittest.TestCase):
    def test_spans_sum_within_an_op_and_take_the_median_over_ops(self):
        spans = [span("Scd2Tier.asOfTiered", 1, 0, 100, rows_returned=10, input_rows=100),
                 span("Scd2Tier.asOfTiered", 2, 0, 300, rows_returned=10, input_rows=300),
                 span("Scd2Tier.asOfTiered", 3, 0, 200, rows_returned=5, input_rows=40),
                 span("Scd2Tier.asOfTiered", 3, 0, 200, rows_returned=5, input_rows=40)]
        raw = {"spans": spans, "ops": [], "gc_s": 0.5}
        m = metrics.per_layer(raw)
        self.assertEqual(m["Scd2Tier.asOfTiered.wall_ms"]["value"], 300.0)
        self.assertEqual(m["Scd2Tier.asOfTiered.rows_per_result"]["value"], 10.0)
        self.assertEqual(m["Scd2Tier.asOfTiered.tasks"]["value"], 1.0)
        self.assertEqual(m["jvm.gc_s"]["value"], 0.5)

    def test_span_never_called_reports_zero(self):
        m = metrics.per_layer({"spans": [], "ops": []})
        self.assertEqual(m["Dedup.duplicatedSpansExact.wall_s"]["value"], 0.0)
        self.assertEqual(set(m), {n for n, _, _ in metrics.per_layer_spec()})

    def test_load_write_amp_and_parallelism(self):
        s = span("Historization.historizeRunTable", 1, 0, 2000, run_ms=6000,
                 fs_written_b=5000, input_batch_b=1000)
        m = metrics.per_layer({"spans": [s], "ops": []})
        self.assertEqual(m["Historization.historizeRunTable.write_amp"]["value"], 5.0)
        self.assertEqual(m["Historization.historizeRunTable.parallelism"]["value"], 3.0)

    def test_trace_overhead_is_traced_minus_untraced_median(self):
        ops = [{"wall_s": w, "traced": t, "step": i} for i, (w, t) in
               enumerate([(2.0, True), (1.0, False), (2.2, True), (1.2, False), (9.0, True)])]
        self.assertAlmostEqual(metrics.trace_overhead_s(ops), 2.2 - 1.1)

    def test_composite_steps_sum_their_parts(self):
        ops = [{"wall_s": w, "traced": False, "step": s} for s, w in
               [(0, 1.0), (0, 2.0), (1, 1.5), (1, 2.5), (2, 0.5), (2, 0.5)]]
        self.assertEqual(sorted(metrics.step_walls(ops, False)), [1.0, 3.0, 4.0])


class EndToEnd(unittest.TestCase):
    def test_metrics_from_raw(self):
        raw = {"main_start_ns": 101 * 10**9, "session_s": 2.0, "prepare_s": [5.0, 1.0, 2.0],
               "warm_up_s": 3.0, "store_b": 2e6, "peak_heap_b": 5e8,
               "ops": [{"wall_s": 1.0, "rows": 10, "traced": False, "step": 0},
                       {"wall_s": 3.0, "rows": 10, "traced": False, "step": 1}],
               "reads": [{"wall_ms": float(x), "traced": False} for x in range(1, 101)]}
        m = metrics.end_to_end(raw, 100 * 10**9)
        self.assertAlmostEqual(m["setup_s"]["value"], 1 + 2 + 2 + 3)
        self.assertEqual(m["op_p50_s"]["value"], 2.0)
        self.assertEqual(m["rows_per_s"]["value"], 5.0)
        self.assertEqual(m["read_p50_ms"]["value"], 50.0)
        self.assertEqual(m["store_mb"]["value"], 2.0)
        self.assertEqual([k for k in m], [n for n, _ in metrics.END_TO_END])


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_code(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.per_layer_spec())
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)


def parquet_digests(root):
    """Sorted (directory, data digest, footer length) of every parquet file
    under root. File names carry a random id. The footer lists each column
    chunk's encodings in parquet-mr's hash-set order, which differs between
    JVMs, so it is compared by length; every byte before it must match."""
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    raw = fh.read()
                footer = int.from_bytes(raw[-8:-4], "little")
                out.append((os.path.relpath(d, root),
                            hashlib.sha256(raw[:-8 - footer]).hexdigest(), footer))
    return sorted(out)


class GeneratorDeterminism(unittest.TestCase):
    def generate(self, seed, tag):
        build_dir, classpath = run.prepare(ROOT)
        work = run.fresh_work(build_dir, f"gen-test-{tag}")
        code = run.run_jvm(run.java_cmd(classpath, work, ["gen", "all", str(seed), work]),
                           work, 300)
        self.assertEqual(code, 0)
        return {w: parquet_digests(os.path.join(work, w, "data")) for w in run.WORKLOADS}

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = self.generate(7, "a"), self.generate(7, "b"), self.generate(8, "c")
        for w in run.WORKLOADS:
            self.assertTrue(a[w], f"{w} wrote no parquet")
            self.assertEqual(a[w], b[w], f"{w} is not deterministic")
            self.assertNotEqual(a[w], c[w], f"{w} ignores the seed")


if __name__ == "__main__":
    unittest.main()
