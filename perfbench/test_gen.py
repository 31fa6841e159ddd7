"""The seeded input generator is a pure function of (workload, seed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen

SMALL = {
    "daily_dag": dict(n_events=2000, n_users=300),
    "curation_week": dict(n_base=200, n_days=2, batch_size=50, planted_frac=0.25,
                          lookups_per_day=6, n_vecs=100, anns_per_day=2),
}


def digests(workload, seed, root):
    out = os.path.join(root, f"{workload}-{seed}-{len(os.listdir(root))}")
    gen.generate(workload, seed, out, SMALL[workload])
    result = {}
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name), "rb") as f:
            result[name] = hashlib.sha256(f.read()).hexdigest()
    return result


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as root:
            for workload in SMALL:
                first, second = digests(workload, 7, root), digests(workload, 7, root)
                self.assertTrue(first)
                self.assertEqual(first, second, workload)

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as root:
            for workload in SMALL:
                a, b = digests(workload, 7, root), digests(workload, 8, root)
                self.assertEqual(a.keys(), b.keys())
                # every generated table depends on the seed
                same = [n for n in a if a[n] == b[n] and n.endswith(".parquet")]
                self.assertEqual(same, [], workload)


if __name__ == "__main__":
    unittest.main()
