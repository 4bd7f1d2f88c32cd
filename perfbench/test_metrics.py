"""Tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class TailPercentile(unittest.TestCase):
    def test_ninety_needs_a_hundred_samples(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(5000), 90)

    def test_steps_down_to_leave_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(50), 80)
        self.assertEqual(metrics.tail_percentile(21), 52)

    def test_falls_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile(18), 50)
        self.assertEqual(metrics.tail_percentile(0), 50)


class Percentile(unittest.TestCase):
    def test_linear_between_ranks(self):
        v = [10, 1, 9, 2, 8, 3, 7, 4, 6, 5]
        self.assertEqual(metrics.percentile(v, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(v, 90), 9.1)
        self.assertEqual(metrics.percentile(v, 0), 1)
        self.assertEqual(metrics.percentile(v, 100), 10)
        self.assertEqual(metrics.percentile([3.5], 90), 3.5)
        self.assertEqual(metrics.percentile([1, 2, 3], 50), 2)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class OkFrac(unittest.TestCase):
    def test_share_of_successes(self):
        self.assertEqual(metrics.ok_frac(10, 0), 1.0)
        self.assertAlmostEqual(metrics.ok_frac(10, 3), 0.7)
        self.assertEqual(metrics.ok_frac(4, 4), 0.0)

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            metrics.ok_frac(0, 0)


class SelfTime(unittest.TestCase):
    def span(self, t0, t1):
        return {"t0": t0, "t1": t1}

    def test_overlapping_children_count_once(self):
        kids = [self.span(1, 3), self.span(2, 5), self.span(8, 12)]
        self.assertEqual(metrics.covered([(1, 3), (2, 5), (8, 12)], 0, 10), 6)
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 4)

    def test_children_outside_the_span(self):
        self.assertEqual(metrics.self_time(self.span(0, 10), [self.span(11, 20)]), 10)
        self.assertEqual(metrics.self_time(self.span(0, 10), []), 10)

    def test_nested_children(self):
        kids = [self.span(0, 10), self.span(2, 3)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 0)

    def test_self_times_by_kind(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "op", "t0": 0, "t1": 1000},
            {"id": 2, "parent": 1, "kind": "build", "t0": 0, "t1": 400},
            {"id": 3, "parent": 2, "kind": "job", "t0": 100, "t1": 300},
            {"id": 4, "parent": 3, "kind": "stage", "t0": 100, "t1": 300},
        ]
        self.assertEqual(metrics.self_times(spans), {"op": 0.6, "build": 0.2, "job": 0.2})


class TablesIn(unittest.TestCase):
    def test_whole_words_only(self):
        sql = ("SELECT l_orderkey, sum(x) OVER (PARTITION BY l_partkey) FROM lineitem l "
               "JOIN orders o ON l.l_orderkey = o.o_orderkey")
        self.assertEqual(metrics.tables_in(sql), ["lineitem", "orders"])


class ResultLine(unittest.TestCase):
    UNITS = {"pass_s": "s", "rows_per_s": "rows/s"}

    def test_format(self):
        line = metrics.result_line(True, 12, 0, {"rows_per_s": 10, "pass_s": 1.25}, self.UNITS)
        self.assertNotIn("\n", line)
        r = json.loads(line)
        self.assertEqual(list(r), ["correct", "attempted", "failed", "metrics"])
        self.assertIs(r["correct"], True)
        self.assertEqual((r["attempted"], r["failed"]), (12, 0))
        self.assertEqual(r["metrics"]["pass_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual(r["metrics"]["rows_per_s"], {"value": 10.0, "unit": "rows/s"})

    def test_emits_exactly_the_declared_metrics(self):
        with self.assertRaises(ValueError):
            metrics.result_line(True, 1, 0, {"pass_s": 1.0}, self.UNITS)
        with self.assertRaises(ValueError):
            metrics.result_line(True, 1, 0, {"pass_s": 1.0, "rows_per_s": 2.0, "x": 3.0}, self.UNITS)


def op(name, lat, ok=True):
    return {"name": name, "latency_s": lat, "build_s": lat / 4, "force_s": 3 * lat / 4, "ok": ok}


class EndToEnd(unittest.TestCase):
    def test_untraced_warm_passes_only(self):
        result = {
            "setup_s": 3.0, "peak_rss_mb": 900.0,
            "passes": [
                {"kind": "cold", "traced": False, "wall_s": 9.0, "ops": [op("a", 5.0)]},
                {"kind": "warm", "traced": False, "wall_s": 3.0, "ops": [op("a", 1.0), op("b", 2.0)]},
                {"kind": "warm", "traced": True, "wall_s": 30.0, "ops": [op("a", 10.0)]},
                {"kind": "warm", "traced": False, "wall_s": 5.0,
                 "ops": [op("a", 3.0), {"name": "b", "ok": False}]},
            ]}
        m, stats = metrics.end_to_end(result, rows_per_pass=400)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["cold_pass_s"], 9.0)
        self.assertEqual(m["pass_s"], 4.0)
        self.assertEqual(m["op_p50_s"], 2.0)
        self.assertEqual(m["op_p90_s"], 2.0)
        self.assertEqual(m["rows_per_s"], 100.0)
        self.assertEqual(stats, {"op_samples": 3, "op_tail_percentile": 50, "warm_passes": 2,
                                 "op_median_s": {"a": 2.0, "b": 2.0}})


class PerLayer(unittest.TestCase):
    def test_rollup(self):
        stage = {"tasks": 2, "task_ms": [10, 30], "cpu_ns": 2e9, "gc_ms": 100, "shuffle_read": 5,
                 "shuffle_write": 7, "spill": 0, "input_rows": 50, "input_bytes": 500, "ran": True}
        spans = [
            {"id": 1, "parent": 0, "kind": "run", "name": "w", "t0": 0, "t1": 9000},
            {"id": 2, "parent": 1, "kind": "pass", "name": "warm-2", "t0": 0, "t1": 1000},
            {"id": 3, "parent": 2, "kind": "op", "name": "a", "t0": 0, "t1": 1000},
            {"id": 4, "parent": 3, "kind": "build", "name": "a", "t0": 0, "t1": 200},
            {"id": 5, "parent": 4, "kind": "job", "name": "0", "t0": 50, "t1": 150},
            {"id": 6, "parent": 5, "kind": "stage", "name": "0", "t0": 50, "t1": 150, **stage},
            {"id": 7, "parent": 3, "kind": "force", "name": "a", "t0": 200, "t1": 1000},
            {"id": 8, "parent": 7, "kind": "job", "name": "1", "t0": 300, "t1": 900},
            {"id": 9, "parent": 8, "kind": "stage", "name": "1", "t0": 300, "t1": 900, **stage},
            {"id": 10, "parent": 1, "kind": "stream", "name": "s", "t0": 2000, "t1": 3000},
            {"id": 11, "parent": 10, "kind": "batch", "name": "0", "t0": 2000, "t1": 2500,
             "duration_ms": {"triggerExecution": 500, "queryPlanning": 20, "addBatch": 400,
                             "walCommit": 30, "commitOffsets": 10},
             "state_rows": 40, "state_bytes": 4000, "state_commit_ms": 5, "late_rows": 2},
        ]
        a = {"name": "a", "ok": True, "latency_s": 1.0, "build_s": 0.2, "force_s": 0.8,
             "cache_bytes": 64, "cache_tags": ["t1", "t2"], "dispatch": ["rank=window"]}
        result = {"spans": spans, "kernels": {"rows_per_s": {"simhash64": 5.0}, "candidate_pairs": 9},
                  "passes": [{"kind": "warm", "traced": False, "wall_s": 1.5, "ops": [a]},
                             {"kind": "warm", "traced": True, "wall_s": 2.0, "ops": [a]}]}
        m = metrics.per_layer(result, cpus=4)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.tasks"], 4)
        self.assertEqual(m["exec.task_skew"], 1.5)
        self.assertEqual(m["exec.cpu_util"], 1.0)
        self.assertEqual(m["io.input_rows"], 100)
        self.assertEqual(m["queries.build_s"], 0.2)
        self.assertEqual(m["core.dispatch_notes"], 1)
        self.assertEqual(m["core.cache_tags"], 2)
        self.assertEqual(m["streaming.commit_s"], 0.04)
        self.assertEqual(m["streaming.late_rows"], 2)
        self.assertEqual(m["exprs.simhash64.rows_per_s"], 5.0)
        self.assertEqual(m["exprs.cosine_sim.rows_per_s"], 0.0)
        self.assertEqual(m["pipeline.candidate_pairs"], 9)
        self.assertEqual(m["trace.overhead_s"], 0.5)


class OpSplit(unittest.TestCase):
    def test_medians_and_jobs_per_traced_pass(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "pass", "name": "warm-2", "t0": 0, "t1": 10},
            {"id": 2, "parent": 1, "kind": "op", "name": "a", "t0": 0, "t1": 10},
            {"id": 3, "parent": 2, "kind": "build", "name": "a", "t0": 0, "t1": 2},
            {"id": 4, "parent": 3, "kind": "job", "name": "0", "t0": 0, "t1": 1},
            {"id": 5, "parent": 2, "kind": "force", "name": "a", "t0": 2, "t1": 10},
            {"id": 6, "parent": 5, "kind": "job", "name": "1", "t0": 2, "t1": 9},
            {"id": 7, "parent": 5, "kind": "job", "name": "2", "t0": 9, "t1": 10},
            {"id": 8, "parent": 0, "kind": "stream", "name": "s", "t0": 20, "t1": 30},
            {"id": 9, "parent": 8, "kind": "job", "name": "3", "t0": 20, "t1": 30},
        ]
        passes = [{"kind": "warm", "traced": True, "ops": [op("a", 1.0)]},
                  {"kind": "warm", "traced": True, "ops": [op("a", 3.0)]},
                  {"kind": "warm", "traced": False, "ops": [op("a", 99.0)]}]
        self.assertEqual(metrics.op_split({"spans": spans, "passes": passes}),
                         {"a": {"build_s": 0.5, "force_s": 1.5, "jobs": 1.5}})


class GeneratorParameters(unittest.TestCase):
    """spec.json records the parameters gen.py generates with."""

    def test_recorded_parameters(self):
        with open(os.path.join(HERE, "spec.json")) as f:
            g = json.load(f)["generator"]
        self.assertEqual(g["rows"], gen.SIZES | {"region": 5, "nation": 25})
        self.assertEqual((g["csv"]["rows"], g["csv"]["cols"]), (gen.CSV_ROWS, gen.CSV_COLS))
        self.assertEqual(g["doc_exact_share"], list(gen.EXACT_SHARE))
        self.assertEqual(g["doc_near_share"], list(gen.NEAR_SHARE))
        self.assertEqual(g["emb_near_share"], list(gen.EMB_NEAR_SHARE))
        self.assertEqual(g["stream"]["files"], gen.STREAM_FILES)


if __name__ == "__main__":
    unittest.main()
