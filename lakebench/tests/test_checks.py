"""Check tests: the reference HyperLogLog the hunt check recomputes.

    python3 -m unittest discover -s lakebench/tests
"""
import math
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402


class HllReferenceTest(unittest.TestCase):

    def test_xxhash64_published_vectors(self):
        # XXH64 reference vectors, seed 0: short, 4-byte tail and 32-byte stripe paths
        self.assertEqual(checks.xxhash64(b"", 0), 0xEF46DB3751D8E999)
        self.assertEqual(checks.xxhash64(b"abc", 0), 0x44BC2CF5AD770999)
        self.assertEqual(checks.xxhash64(b"Nobody inspects the spammish repetition", 0),
                         0xFBCEA83C8A378BF1)

    def test_estimate_tracks_distinct_count(self):
        rng = random.Random(7)
        for n in (0, 1, 50, 500, 20000):
            vals = ["10.%d.%d.%d" % (rng.randrange(256), rng.randrange(256), rng.randrange(256))
                    for _ in range(n)]
            exact = len(set(vals))
            est = checks.hll_estimate(vals + vals[: n // 2])
            self.assertLessEqual(abs(est - exact), max(2.0, 0.05 * exact), (n, est, exact))

    def test_estimate_of_colliding_values(self):
        # two addresses that share a register: linear counting sees one value
        est = checks.hll_estimate(["198.247.227.80", "198.68.175.199"])
        self.assertTrue(math.isclose(est, 4096 * math.log(4096 / 4095)))


if __name__ == "__main__":
    unittest.main()
