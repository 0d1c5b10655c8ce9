"""Self-tests of the benchmark's Python side.

    cd perfbench && python3 -m unittest -q test_bench

(`python3 perfbench/run.py --self-test` runs these and the JVM-side
self-tests.)
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen
import oracle
import run


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                pa, pb = gen.generate(w, 7, a), gen.generate(w, 7, b)
                self.assertEqual(pa, pb)
                self.assertEqual(tree_digest(a), tree_digest(b), w)

    def test_other_seed_other_inputs_same_shape(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                pa, pb = gen.generate(w, 7, a), gen.generate(w, 8, b)
                self.assertNotEqual(tree_digest(a), tree_digest(b), w)
                # sizes and shares are fixed; what seeded edits happen to
                # collide into (distinct texts) may differ
                varying = ("seed", "bytes", "drop_bytes", "distinct_texts", "exact_density")
                shape = [k for k in pa if k not in varying]
                self.assertEqual({k: pa[k] for k in shape}, {k: pb[k] for k in shape})

    def test_recorded_properties(self):
        with tempfile.TemporaryDirectory() as d:
            p = gen.generate("daily_drops", 3, d)
            self.assertAlmostEqual(p["drop_warehouse_ratio"], 1 / gen.MONTH_DAYS, places=3)
            self.assertAlmostEqual(p["late_share"], 0.20, places=2)
            self.assertAlmostEqual(p["updated_share"], 0.10, places=2)
            with open(os.path.join(d, "inputs.json")) as f:
                self.assertEqual(json.load(f), p)
        with tempfile.TemporaryDirectory() as d:
            p = gen.generate("corpus_curation", 3, d)
            self.assertEqual(p["docs"], 5000)
            self.assertEqual(p["edited_density"], 0.5)
            # 500 sources with 4 verbatim replicas each: at least 2,000
            # documents repeat another's text, and at most 6 texts per group
            self.assertGreaterEqual(p["exact_density"], 0.4)
            self.assertLessEqual(p["distinct_texts"], 500 * (1 + 5))


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(run.tail([1.0] * 10))
        self.assertIsNone(run.tail([]))

    def test_exactly_ten_samples_beyond(self):
        pct, value, n = run.tail([float(i) for i in range(1, 101)])
        self.assertEqual((pct, value, n), (90.0, 90.0, 100))
        pct, value, n = run.tail([float(i) for i in range(11, 0, -1)])
        self.assertEqual(value, 1.0)
        self.assertEqual(n, 11)
        self.assertAlmostEqual(pct, 100 / 11)


class OracleCompareTest(unittest.TestCase):
    def test_compare_reports_value_and_row_mismatches(self):
        want = {"a": {"tbl": "a", "n": 3, "v": 1.5}, "b": {"tbl": "b", "n": 1, "v": 0.0}}
        self.assertEqual(oracle._compare(list(want.values()), want, "tbl"), [])
        got = [{"tbl": "a", "n": 3, "v": 1.25}]
        problems = oracle._compare(got, want, "tbl")
        self.assertEqual(len(problems), 2)
        self.assertIn("a.v", problems[1])


if __name__ == "__main__":
    unittest.main()
