"""Seed determinism of the op sequences.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads  # noqa: E402


class Sequences(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.ops(w, 7), workloads.ops(w, 7), w)

    def test_different_seed_different_sequence(self):
        for w in workloads.WORKLOADS:
            self.assertNotEqual(workloads.ops(w, 7), workloads.ops(w, 8), w)

    def test_query_rounds_are_permutations_of_the_mix(self):
        for w, keys in workloads.QUERY_WORKLOADS.items():
            seq = [op[0] for op in workloads.ops(w, 3, rounds=5)]
            n = workloads.round_size(w)
            for r in range(5):
                self.assertEqual(sorted(seq[r * n:(r + 1) * n]), sorted(keys), w)

    def test_lakehouse_cycles_cross_a_checkpoint_and_read_committed_versions(self):
        seq = workloads.ops("lakehouse", 11, rounds=20)
        n = workloads.round_size("lakehouse")
        head = 1 + workloads.LAKE_COMMITS
        self.assertGreaterEqual(head, 5)  # version 5 is a checkpoint
        orders = set()
        for r in range(20):
            cycle = seq[r * n:(r + 1) * n]
            names = [op[0] for op in cycle]
            self.assertEqual(names[:1 + workloads.LAKE_COMMITS],
                             ["create"] + ["commit"] * workloads.LAKE_COMMITS)
            self.assertEqual(cycle[-1], ["restore", 2])
            reads = cycle[1 + workloads.LAKE_COMMITS:-1]
            self.assertEqual(sorted(reads), [["changes_range", 1, head], ["read_as_of", 4]])
            orders.add(tuple(op[0] for op in reads))
            for op in cycle:
                if op[0] == "commit":
                    self.assertTrue(0 <= op[2] < op[1])
        self.assertEqual(len(orders), 2)  # the seed orders the reads


if __name__ == "__main__":
    unittest.main()
