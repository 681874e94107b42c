"""The generator is a pure function of (workload, seed).

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


class SeededInputs(unittest.TestCase):

    def _manifest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            return gen.generate(workload, seed, d)

    def test_same_seed_same_bytes_different_seed_different_bytes(self):
        for workload in ("batch", "serving"):
            with self.subTest(workload=workload):
                a, b, c = (self._manifest(workload, s) for s in (7, 7, 8))
                self.assertEqual(a, b)
                for table in a:
                    if "sha256" in a[table]:
                        self.assertNotEqual(a[table]["sha256"], c[table]["sha256"], table)

    def test_documents_plant_exact_and_near_duplicates(self):
        docs = gen.documents(3, "batch", 2000).to_pydict()
        texts = docs["text"]
        exact = len(texts) - len(set(texts))
        self.assertGreater(exact, 0.02 * len(texts))
        self.assertEqual(len(set(docs["doc_id"])), len(texts))

    def test_orders_are_key_skewed(self):
        t = gen.tpch(3, "batch", 0.25)
        cust = t["orders"].column("o_custkey").to_numpy()
        _, counts = __import__("numpy").unique(cust, return_counts=True)
        # power law: the busiest customer owns far more than the mean
        self.assertGreater(counts.max(), 20 * counts.mean())

    def test_replicas_are_id_disjoint(self):
        t = gen.tpch(3, "batch", 1.5)
        keys = t["orders"].column("o_orderkey").to_numpy()
        self.assertEqual(len(set(keys.tolist())), len(keys))
        self.assertGreaterEqual(keys.max(), gen.STRIDE)


if __name__ == "__main__":
    unittest.main()
