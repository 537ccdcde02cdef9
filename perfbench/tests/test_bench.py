"""Self-tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_reported_only_with_ten_samples_beyond(self):
        self.assertEqual(M.percentile(list(range(1, 101)), 0.9), 90)   # 10 beyond
        self.assertIsNone(M.percentile(list(range(1, 100)), 0.9))      # 9 beyond
        self.assertEqual(M.percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(M.percentile(list(range(1, 20)), 0.5))
        self.assertIsNone(M.percentile([], 0.5))

    def test_order_of_samples_does_not_matter(self):
        vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
        self.assertEqual(M.percentile(vals, 0.9), 5.0)
        self.assertEqual(M.percentile(vals, 0.5), 3.0)


    def test_median_of_per_op_medians(self):
        # op b's slow second pass moves neither its median nor the result
        self.assertEqual(M.median_of_medians({"a": [1, 2, 3], "b": [5, 90, 6], "c": [9, 9, 8]}),
                         6)
        self.assertIsNone(M.median_of_medians({}))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # children cover [1, 6) and [8, 10) inside the span: 7 of 10 ms
        self.assertAlmostEqual(M.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]), 3.0)

    def test_nested_and_disjoint_children(self):
        self.assertAlmostEqual(M.self_time((0, 10), [(2, 8), (3, 4)]), 4.0)
        self.assertAlmostEqual(M.self_time((0, 10), [(-5, -1), (11, 12)]), 10.0)
        self.assertAlmostEqual(M.self_time((0, 10), []), 10.0)

    def test_op_split_into_layers(self):
        op = {"t0": 0.0, "t1": 100.0}
        queries = [{"phases": {"analysis": [0.0, 10.0], "planning": [10.0, 20.0]}}]
        jobs = [{"start_ms": 15.0, "end_ms": 60.0}, {"start_ms": 50.0, "end_ms": 70.0}]
        split = M.op_spans(op, queries, jobs)
        self.assertAlmostEqual(split["plan"], 15.0)   # planning loses 5 ms to a job
        self.assertAlmostEqual(split["job"], 55.0)    # [15, 70)
        self.assertAlmostEqual(split["self"], 30.0)   # 100 - [0, 70)
        self.assertAlmostEqual(split["plan"] + split["job"] + split["self"], 100.0)

    def test_records_attributed_to_the_op_holding_their_start(self):
        ops = [{"t0": 0.0, "t1": 10.0}, {"t0": 20.0, "t1": 30.0}]
        jobs = [{"start_ms": 5.0}, {"start_ms": 21.0}, {"start_ms": 15.0}]
        out = M.attribute(ops, [], jobs)
        self.assertEqual([len(j) for _, j in out], [1, 1])


class SeededOps(unittest.TestCase):
    def ops(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            return W.WORKLOADS[workload](seed, d)

    def shape(self, spec):
        """The op multiset: a seed may reorder ops, never change them."""
        return sorted((o["id"], o["kind"], o["cls"], o.get("shape"), o.get("rows"))
                      for o in spec["setup"] + spec["pass_ops"])

    def test_same_seed_same_ops_other_seed_same_shape(self):
        a, b, c = self.ops("arrow_ingest", 7), self.ops("arrow_ingest", 7), self.ops("arrow_ingest", 8)
        self.assertEqual(a["setup"] + a["pass_ops"], b["setup"] + b["pass_ops"])
        self.assertEqual(self.shape(a), self.shape(c))
        self.assertNotEqual([o.get("sql") for o in a["pass_ops"]],
                            [o.get("sql") for o in c["pass_ops"]])

    def test_analytics_seed_permutes_the_same_queries(self):
        a, b = self.ops("analytics_parquet", 1), self.ops("analytics_parquet", 2)
        names = lambda s: [o["name"] for o in s["pass_ops"]]  # noqa: E731
        self.assertEqual(sorted(names(a)), sorted(W.ANALYTICS_QUERIES))
        self.assertEqual(sorted(names(a)), sorted(names(b)))
        self.assertNotEqual(names(a), names(b))


class WriteSideMetrics(unittest.TestCase):
    OPS = [
        {"id": "bulk_load", "kind": "write", "cls": "write", "layer": "arrow.commit",
         "job_layer": "arrow.write", "table": "main", "commits": "main", "rows": 10},
        {"id": "append1:zstd", "kind": "write", "cls": "write", "layer": "arrow.commit",
         "job_layer": "arrow.write", "table": "main", "commits": "main", "rows": 5,
         "codec": "zstd"},
        {"id": "replicate1", "kind": "replicate", "cls": "write", "layer": "streaming",
         "job_layer": "streaming", "table": "main"},
    ]
    # [data bytes, log and sidecar bytes, data files] of each table after each op
    BYTES = [{"main": [1000, 100, 1], "replica": [0, 0, 0]},
             {"main": [1500, 220, 2], "replica": [0, 0, 0]},
             {"main": [1500, 220, 2], "replica": [1400, 90, 1]}]

    def run_pass(self, tag, t0, traced):
        recs = [{"id": op["id"], "t0": t0 + 10 * i, "t1": t0 + 10 * i + 10, "ok": True,
                 "result": [], "bytes": b} for i, (op, b) in enumerate(zip(self.OPS, self.BYTES))]
        return {"tag": tag, "traced": traced, "t0": t0, "t1": t0 + 30, "ops": recs,
                "queries": [], "jobs": [], "heap_mb_post_gc": 1.0}

    def test_growth_from_pass_start_and_commits_to_the_main_table_only(self):
        passes = [self.run_pass(f"p{i}", 100.0 * i, traced=i % 2 == 1) for i in range(5)]
        m = run.per_layer({"pass_ops": self.OPS}, {"session_ms": 1.0, "table_build_s": 1.0},
                          passes, 1)
        # every pass writes a fresh table: bulk load +100 B of log, append +120 B
        self.assertEqual(m["arrow.commit.meta_bytes_per_epoch"]["value"], 110.0)
        self.assertEqual(m["arrow.write.bytes_per_row.zstd"]["value"], 100.0)
        self.assertEqual(m["arrow.write.files_per_commit"]["value"], 1.0)


class OutputChecks(unittest.TestCase):
    def test_corrupted_expected_digest_is_a_failure(self):
        op = {"id": "r", "expect": ["3|6"]}
        good = {"id": "r", "ok": True, "result": ["3|6"]}
        self.assertEqual(run.check_all({"r": op}, [good, good]), ({}, 0))
        corrupted = dict(op, expect=["3|7"])
        failures, failed = run.check_all({"r": corrupted}, [good, good])
        self.assertEqual(failed, 2)
        self.assertIn("r", failures)

    def test_errors_and_change_feed_net(self):
        op = {"id": "c", "expect_net": 5}
        self.assertIsNone(run.check_op(op, {"ok": True, "result": ["delete|2", "insert|7"]}))
        self.assertIsNotNone(run.check_op(op, {"ok": True, "result": ["insert|7"]}))
        self.assertEqual(run.check_op(op, {"ok": False, "error": "boom", "result": []}), "boom")


if __name__ == "__main__":
    unittest.main()
