"""Tests of the seeded input generators: the same seed gives byte-identical
inputs, another seed different ones, and the op streams are valid.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", f"tests-{os.getpid()}")


def digest(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def generate(self, name, seed, workload):
        d = os.path.join(SCRATCH, name)
        gen.generate(d, seed, workload)
        return d

    def check_determinism(self, workload):
        a = digest(self.generate(f"{workload}-a", 42, workload))
        b = digest(self.generate(f"{workload}-b", 42, workload))
        c = digest(self.generate(f"{workload}-c", 43, workload))
        self.assertTrue(a)
        self.assertEqual(a, b)
        self.assertEqual(set(a), set(c))
        for f in a:
            if not f.endswith(".json"):
                self.assertNotEqual(a[f], c[f], f)

    def test_serve_inputs_deterministic(self):
        self.check_determinism("serve")

    def test_batch_inputs_deterministic(self):
        self.check_determinism("batch_pipeline")

    def test_mixed_stream_targets_live_ids(self):
        ops, nvec, nq = gen.mixed_ops(5)
        live = [set(range(gen.N)) for _ in range(gen.COLLECTIONS)]
        ups = searches = 0
        for kind, c, arg, varg in ops.tolist():
            if kind == gen.UPSERT:
                self.assertEqual(varg, ups)
                ups += 1
                live[c].add(arg)
            elif kind == gen.DELETE:
                self.assertIn(arg, live[c])  # no delete of an absent id
                live[c].remove(arg)
            elif kind == gen.SEARCH:
                self.assertEqual(arg, searches)  # never-repeated queries
                searches += 1
        self.assertEqual((ups, searches), (nvec, nq))

    def test_read_stream_mix_and_zipf_head(self):
        ops = gen.read_ops(5)
        kinds = np.bincount(ops[:, 0], minlength=3) / len(ops)
        np.testing.assert_allclose(kinds, gen.READ_MIX, atol=0.01)
        q = ops[ops[:, 0] != gen.GET, 2]
        counts = np.sort(np.bincount(q, minlength=gen.POOL))[::-1]
        # the 128 hottest pool vectors (the result cache's capacity) carry
        # most of the query traffic, the tail the rest
        self.assertGreater(counts[:128].sum() / counts.sum(), 0.6)
        self.assertLess(counts[:128].sum() / counts.sum(), 0.95)


if __name__ == "__main__":
    unittest.main()
