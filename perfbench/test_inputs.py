"""Determinism of the seeded input generator.

    python3 perfbench/test_inputs.py

For every workload, generates the inputs three times into fresh work
dirs (seed 1, seed 1 again, seed 2) and compares the per-table content
digests the benchmark prints with --gen-only.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

WORKLOADS = ["ingest", "analytics"]


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = run.build()
        cls.root = run.WORK / "test_inputs"
        shutil.rmtree(cls.root, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.root, ignore_errors=True)

    def digests(self, workload, seed, name):
        cmd = run.java_cmd(self.classes, self.root / name, "--workload", workload,
                           "--seed", str(seed), "--gen-only")
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=run.ROOT)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = self.digests(w, 1, f"{w}-a")
                b = self.digests(w, 1, f"{w}-b")
                c = self.digests(w, 2, f"{w}-c")
                self.assertTrue(a, "no input tables")
                self.assertEqual(a, b)
                for table in a:
                    self.assertNotEqual(a[table], c[table], table)


if __name__ == "__main__":
    unittest.main()
