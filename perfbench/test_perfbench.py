"""Tests of the benchmark's own logic: seeded input generation and the
percentile, self-time and answer-digest arithmetic.

    python3 perfbench/test_perfbench.py
"""
import datetime
import decimal
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402


class SeedDeterminism(unittest.TestCase):
    def generate(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            return gen.generate(workload, seed, os.path.join(d, "in"), ["q7_topk", "q3_join_agg"])

    def test_same_seed_same_bytes(self):
        for w in ("lake_serve", "corpus_curate", "daily_cycle"):
            a, b = self.generate(w, 7), self.generate(w, 7)
            self.assertEqual(a["inputs_sha256"], b["inputs_sha256"], w)
            self.assertEqual(a, b, w)

    def test_other_seed_other_bytes(self):
        for w in ("lake_serve", "corpus_curate", "daily_cycle"):
            self.assertNotEqual(self.generate(w, 7)["inputs_sha256"],
                                self.generate(w, 8)["inputs_sha256"], w)

    def test_requests_serve_every_entry_once(self):
        names = [f"q{i}" for i in range(8)]
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("lake_serve", 3, os.path.join(d, "in"), names)
        reqs = m["requests"]
        self.assertEqual([r["key"] for r in reqs if r["kind"] == "entry"], names)
        self.assertEqual(sum(r["kind"] == "range" for r in reqs), gen.LAKE_RANGES)
        self.assertEqual(len({r["key"] for r in reqs}), len(reqs))


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(v, 50), 5)
        self.assertEqual(metrics.percentile(v, 90), 9)
        self.assertEqual(metrics.percentile(v, 100), 10)
        self.assertEqual(metrics.percentile([4.0], 90), 4.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_failure_counts_as_infinitely_slow(self):
        v = [1.0] * 8 + [metrics.INF] * 2
        self.assertEqual(metrics.percentile(v, 80), 1.0)
        self.assertEqual(metrics.percentile(v, 90), metrics.INF)

    def test_median(self):
        self.assertEqual(metrics.median([1, 3, 2]), 2)
        self.assertEqual(metrics.median([1, 2, 3, 4]), 2.5)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "name": name, "req": 0,
            "cpu_s": 0.0, "task_s": 0.0, "jobs": 1, "stages": 1, "tasks": 2, "shuffle_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0, "job_ms": []}


class SelfTimes(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_children(self):
        spans = [span(0, -1, 0, 100, "root"), span(1, 0, 10, 40, "a"), span(2, 0, 50, 90, "b"),
                 span(3, 2, 60, 70, "c")]
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 30, 2: 30, 3: 10})
        # self times partition the root's wall
        self.assertEqual(sum(st.values()), 100)

    def test_children_clipped_to_parent(self):
        st = metrics.self_times([span(0, -1, 0, 10), span(1, 0, 5, 20)])
        self.assertEqual(st[0], 5)

    def test_rollup_sums_by_name(self):
        spans = [span(0, -1, 0, 100, "root"), span(1, 0, 0, 20, "a"), span(2, 0, 30, 60, "a")]
        r = {a["span"]: a for a in metrics.rollup(spans)}
        self.assertAlmostEqual(r["a"]["wall_s"], 0.05)
        self.assertAlmostEqual(r["root"]["self_s"], 0.05)
        self.assertEqual(r["a"]["n"], 2)
        self.assertEqual(r["a"]["jobs"], 2)


class AnswerDigest(unittest.TestCase):
    def test_order_independent(self):
        a = metrics.rows_digest(["x", "y"], [[1, "a"], [2, "b"]])
        b = metrics.rows_digest(["y", "x"], [["b", 2], ["a", 1]])
        self.assertEqual(a, b)

    def test_engine_value_forms_agree(self):
        spark = [[decimal.Decimal("2.50"), "2024-01-02 03:04:05.000006", "2024-01-02", 3, [1.5, None]]]
        duck = [[2.5, datetime.datetime(2024, 1, 2, 3, 4, 5, 6), datetime.date(2024, 1, 2),
                 decimal.Decimal("3"), (1.5, None)]]
        cols = ["a", "b", "c", "d", "e"]
        self.assertEqual(metrics.rows_digest(cols, spark), metrics.rows_digest(cols, duck))

    def test_values_differ(self):
        self.assertNotEqual(metrics.rows_digest(["a"], [[1.0]]), metrics.rows_digest(["a"], [[1.5]]))
        self.assertNotEqual(metrics.rows_digest(["a"], [[1], [1]]), metrics.rows_digest(["a"], [[1]]))


if __name__ == "__main__":
    unittest.main()
