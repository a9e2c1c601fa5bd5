#!/usr/bin/env python3
"""The benchmark's own test: the input generator is a pure function of the
seed. For each workload it generates the raw inputs twice from one seed and
once from another, and checks that the first two are byte-identical and the
third differs.

    python3 perfbench/test_gen.py        # from the repository root
"""
import hashlib
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def tree_digest(root: Path) -> dict:
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*")) if p.is_file()}


class GeneratorIsSeeded(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jar = build.build()
        cls.scratch = build.build_dir() / "runs" / "test_gen"
        shutil.rmtree(cls.scratch, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.scratch, ignore_errors=True)

    def generate(self, workload: str, seed: int, name: str) -> dict:
        out = self.scratch / name
        cmd = run.java_cmd(self.jar, out, workload, seed, 15, 0, out / "data") + ["--gen-only", "1"]
        subprocess.run(cmd, cwd=out, check=True, stdout=subprocess.DEVNULL)
        return tree_digest(out / "data")

    def check(self, workload: str):
        a = self.generate(workload, 7, f"{workload}-a")
        b = self.generate(workload, 7, f"{workload}-b")
        c = self.generate(workload, 8, f"{workload}-c")
        self.assertTrue(a, "generator wrote no files")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_review_jobs(self):
        self.check("review_jobs")

    def test_vector_serving(self):
        self.check("vector_serving")


if __name__ == "__main__":
    unittest.main()
