"""Generator tests: the same seed gives byte-identical inputs, and the
planted truth accounts for every generated line.

    python3 -m unittest discover -s lakebench/tests
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from run import dir_digest  # noqa: E402


def ingest(d, seed):
    return gen.ingest_inputs(d, seed, objects_per_source=3, lines_per_object=300,
                             bursts_per_source=2, tag="t")


def hunt(d, seed):
    return gen.hunt_inputs(d, seed, hours=3, vpc_per_hour=100, ct_per_hour=50, writer_hours=2)


class GeneratorTest(unittest.TestCase):

    def check_deterministic(self, make):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            ta, tb, tc = make(a, 7), make(b, 7), make(c, 8)
            self.assertEqual(dir_digest(a), dir_digest(b))
            self.assertEqual(ta, tb)
            self.assertNotEqual(dir_digest(a), dir_digest(c))

    def test_ingest_deterministic(self):
        self.check_deterministic(ingest)

    def test_hunt_deterministic(self):
        self.check_deterministic(hunt)

    def test_ingest_truth_accounts_for_every_line(self):
        with tempfile.TemporaryDirectory() as tmp:
            for o in ingest(tmp, 3):
                classes = sum(o[c] for c in
                              ("clean", "truncated", "typebad", "late", "header", "burst"))
                self.assertEqual(classes, o["lines"])
                with open(os.path.join(tmp, o["source"], o["object"])) as fh:
                    self.assertEqual(sum(1 for _ in fh), o["lines"])

    def test_bursts_activate_alerts(self):
        with tempfile.TemporaryDirectory() as tmp:
            objs = ingest(tmp, 3)
            alerts = gen.fold_alerts([tuple(m) for o in objs for m in o["matches"]])
            bursts = sum(o["burst"] for o in objs) // (gen.THRESHOLD + 1)
            self.assertGreaterEqual(sum(1 for a in alerts.values() if a[4]), bursts)


if __name__ == "__main__":
    unittest.main()
