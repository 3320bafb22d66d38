"""Generator determinism: the same seed gives byte-identical inputs and
another seed gives different ones, for every workload.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


class Determinism(unittest.TestCase):
    def setUp(self):
        # scratch space in the checkout's (ignored) build directory
        build = os.path.join(os.path.dirname(__file__), "..", "..",
                             ".bench_build")
        os.makedirs(build, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                a = gen.generate(w, 7, f"{self.tmp}/{w}-a")
                b = gen.generate(w, 7, f"{self.tmp}/{w}-b")
                c = gen.generate(w, 8, f"{self.tmp}/{w}-c")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_hash_covers_paths_and_bytes(self):
        d = f"{self.tmp}/h"
        os.makedirs(d)
        with open(f"{d}/x", "wb") as f:
            f.write(b"1")
        h1 = gen.content_hash(d)
        os.rename(f"{d}/x", f"{d}/y")
        h2 = gen.content_hash(d)
        with open(f"{d}/y", "wb") as f:
            f.write(b"2")
        self.assertEqual(len({h1, h2, gen.content_hash(d)}), 3)


if __name__ == "__main__":
    unittest.main()
