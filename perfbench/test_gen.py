"""The generator's contract: one seed gives byte-identical inputs (and the
same file mtimes, which the engine's layout fingerprints read); another
seed gives different ones.

    python3 perfbench/test_gen.py
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def digest(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (hashlib.sha256(fh.read()).hexdigest(),
                                                 os.stat(p).st_mtime)
    return out


class SeededInputs(unittest.TestCase):
    def setUp(self):
        scratch = os.path.join(HERE, ".work")
        os.makedirs(scratch, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-gen-", dir=scratch)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (os.path.join(self.tmp, f"{w}-{k}") for k in "abc")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                da = digest(a)
                self.assertTrue(da)
                self.assertEqual(da, digest(b))
                self.assertNotEqual(da, digest(c))


if __name__ == "__main__":
    unittest.main()
