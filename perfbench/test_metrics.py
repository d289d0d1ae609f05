"""Self-tests of the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_ms": s, "end_ms": e}

    def test_children_subtracted(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 50, 70), self.span(4, 2, 15, 35)]
        st = M.self_times(spans)
        self.assertEqual(st, {1: 50, 2: 10, 3: 20, 4: 20})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 1, 40, 80)]
        self.assertEqual(M.self_times(spans)[1], 30)

    def test_child_past_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 90, 130)]
        self.assertEqual(M.self_times(spans)[1], 90)

    def test_union(self):
        self.assertEqual(M.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(M.union_ms([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(M.union_ms([]), 0)


class BusyFrac(unittest.TestCase):
    def test_full_and_partial(self):
        self.assertEqual(M.busy_frac(4000, 4, 1000), 1.0)
        self.assertEqual(M.busy_frac(1000, 4, 1000), 0.25)
        self.assertEqual(M.busy_frac(0, 4, 0), 0.0)


class CanonHash(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"k": ["a", "b", "c", "a"],
                             "x": [1.0, 2.5, -0.0, 3.25],
                             "n": [1, 2, 3, 4]})

    def test_row_and_column_order_do_not_matter(self):
        df = self.frame()
        shuffled = df.sample(frac=1, random_state=7)[["n", "x", "k"]]
        self.assertEqual(M.canon_hash(df), M.canon_hash(shuffled))

    def test_sub_tolerance_float_noise_does_not_matter(self):
        df = self.frame()
        noisy = df.copy()
        noisy["x"] = noisy["x"] + np.array([1e-12, -3e-13, 2e-12, 0.0])
        self.assertEqual(M.canon_hash(df), M.canon_hash(noisy))

    def test_signed_zero_folds(self):
        a = pd.DataFrame({"x": [0.0]})
        b = pd.DataFrame({"x": [-0.0]})
        self.assertEqual(M.canon_hash(a), M.canon_hash(b))

    def test_real_changes_do_matter(self):
        df = self.frame()
        for change in ({"x": [1.0, 2.5, 0.0, 3.2500001]},
                       {"n": [1, 2, 3, 5]}):
            other = df.copy()
            for c, v in change.items():
                other[c] = v
            self.assertNotEqual(M.canon_hash(df), M.canon_hash(other))
        self.assertNotEqual(M.canon_hash(df), M.canon_hash(df.iloc[:3]))


if __name__ == "__main__":
    unittest.main()
