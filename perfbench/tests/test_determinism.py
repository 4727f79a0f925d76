"""End-to-end seed determinism of the lakehouse writes.

Runs the benchmark three times, about two minutes in all.

A one-second window runs exactly one lakehouse cycle (the first round
always runs), so `lake.bytes_written` covers the same commits each time.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bytes_written(seed):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "lakehouse",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(BENCH_DIR), capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["lake.bytes_written"]["value"]


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        first = bytes_written(5)
        self.assertGreater(first, 0)
        self.assertEqual(first, bytes_written(5))
        self.assertNotEqual(first, bytes_written(6))


if __name__ == "__main__":
    unittest.main()
