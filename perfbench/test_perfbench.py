"""Tests of the benchmark's own logic: percentiles, span self time, input
generation and failure accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import run
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)
        self.assertEqual(stats.percentile(list(reversed(xs)), 10), 10)

    def test_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.beyond(xs, 95), 5)
        self.assertEqual(stats.beyond(xs, 90), 10)
        self.assertEqual(stats.beyond(xs, 50), 50)

    def test_tail_is_the_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 201))), (95, 190, 10))
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90, 90, 10))
        self.assertEqual(stats.tail_percentile(list(range(1, 21))), (50, 10, 10))
        self.assertIsNone(stats.tail_percentile([1.0, 2.0, 3.0]))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_s": start, "end_s": end}

    def test_nested_children(self):
        spans = [
            self.span(0, -1, 0.0, 10.0),  # op
            self.span(1, 0, 1.0, 3.0),    # child
            self.span(2, 0, 2.0, 5.0),    # child overlapping the first
            self.span(3, 1, 1.5, 2.0),    # grandchild, inside span 1
            self.span(4, 0, 9.0, 12.0),   # child running past its parent
        ]
        own = stats.self_times(spans)
        self.assertAlmostEqual(own[0], 10.0 - 4.0 - 1.0)  # [1,5] and [9,10] covered
        self.assertAlmostEqual(own[1], 2.0 - 0.5)
        self.assertAlmostEqual(own[2], 3.0)
        self.assertAlmostEqual(own[3], 0.5)
        self.assertAlmostEqual(own[4], 3.0)

    def test_self_times_sum_to_the_root(self):
        spans = [self.span(0, -1, 0.0, 4.0), self.span(1, 0, 0.5, 2.0), self.span(2, 1, 1.0, 1.5),
                 self.span(3, 0, 2.0, 4.0)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 4.0)

    def test_covered_merges_intervals(self):
        self.assertAlmostEqual(stats.covered([(0, 1), (0.5, 2), (3, 4)]), 3.0)
        self.assertEqual(stats.covered([]), 0.0)


def tree(root):
    """Relative path -> bytes of every file under root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for workload in gen.GENERATORS:
                first = tree(gen.generate(workload, 7, 1, a))
                again = tree(gen.generate(workload, 7, 1, b))
                other = tree(gen.generate(workload, 8, 1, b))
                self.assertEqual(first, again, workload)
                self.assertEqual(set(first), set(other), workload)
                differing = [k for k in first if first[k] != other[k]]
                self.assertTrue(any(k.endswith(".parquet") for k in differing), workload)

    def test_generation_is_cached(self):
        with tempfile.TemporaryDirectory() as root:
            path = gen.generate("llm_pretrain", 3, 1, root)
            manifest = os.path.join(path, "manifest.json")
            before = os.stat(manifest).st_mtime_ns
            self.assertEqual(gen.generate("llm_pretrain", 3, 1, root), path)
            self.assertEqual(os.stat(manifest).st_mtime_ns, before)


class FailureAccountingTest(unittest.TestCase):
    def write(self, root, op, values):
        d = os.path.join(root, "ops", str(op), "out")
        os.makedirs(d)
        pq.write_table(pa.table({"k": pa.array(values, pa.int64())}), os.path.join(d, "part-0.parquet"))

    def test_thrown_and_wrong_outputs_count_as_failed(self):
        with tempfile.TemporaryDirectory() as root:
            self.write(root, 0, [1, 2, 3])
            self.write(root, 2, [1, 2, 4])  # completes, but its output differs
            self.write(root, 3, [3, 2, 1])  # same rows, other order: passes
            ops = [{"i": 0, "ok": True, "traced": False},
                   {"i": 1, "ok": False, "traced": False, "error": "java.lang.IllegalStateException: boom"},
                   {"i": 2, "ok": True, "traced": False},
                   {"i": 3, "ok": True, "traced": True}]
            con = oracle.connect()
            oracle.check_ops(con, root, ops, ["out"], lambda con, d: {})
            self.assertEqual([o["ok"] for o in ops], [True, False, False, True])
            self.assertEqual(stats.fail_ratio(ops), (4, 2, 0.5))

    def test_a_failed_reference_check_fails_every_operation(self):
        with tempfile.TemporaryDirectory() as root:
            self.write(root, 0, [1])
            self.write(root, 1, [1])
            ops = [{"i": 0, "ok": True, "traced": False}, {"i": 1, "ok": True, "traced": True}]
            con = oracle.connect()
            facts = oracle.check_ops(con, root, ops, ["out"], lambda con, d: {"out": "rows differ"})
            self.assertEqual(facts["check_errors"], {"out": "rows differ"})
            self.assertEqual(stats.fail_ratio(ops), (2, 2, 1.0))

    def test_same_rows_compares_values_as_text(self):
        con = oracle.connect()
        got = "(SELECT 1::INTEGER AS a, 'x' AS b UNION ALL SELECT NULL, 'y')"
        self.assertEqual(oracle.same_rows(con, got, "SELECT 1::BIGINT AS a, 'x' AS b UNION ALL SELECT NULL, 'y'"), "")
        self.assertIn("rows differ", oracle.same_rows(con, got, "SELECT 2 AS a, 'x' AS b UNION ALL SELECT NULL, 'y'"))
        self.assertIn("columns differ", oracle.same_rows(con, got, "SELECT 1 AS a"))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
