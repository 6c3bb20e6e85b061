#!/usr/bin/env python3
"""Seeded-generator determinism test.

    python3 perfbench/tests/test_generators.py

For every workload, the SHA-256 of the seeded inputs (the day assignment of
the sf0.1 customers; the history, first batches and queries of the index
workload) must be identical for equal seeds and differ between seeds.
Builds the harness first if needed.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build_dir = os.path.abspath(os.path.join(
            run.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
        cls.classes = run.build(build_dir)
        cls.work = tempfile.mkdtemp(dir=build_dir)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def digest(self, workload, seed):
        cmd = run.java_cmd(self.classes, self.work,
                           ["--digest", workload, "--seed", str(seed)])
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        return out.stdout.strip().splitlines()[-1]

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = self.digest(w, 7), self.digest(w, 7), self.digest(w, 8)
                self.assertEqual(len(a), 64)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
