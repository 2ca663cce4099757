"""Determinism of the Garmin input generator: the same seed gives
byte-identical files, a different seed gives different files.

    python3 perfbench/test_generators.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import garmin_gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def garmin(root, seed):
    truth = garmin_gen.write_activities(root, seed, 4, 50, 80, 3)
    garmin_gen.write_silver_rows(root, seed, 12)
    return truth


class GeneratorsTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work"))
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def digests(self, make):
        out = []
        for i, seed in enumerate((7, 7, 8)):
            d = os.path.join(self.dir, str(i))
            make(d, seed)
            out.append(tree_digest(d))
        return out

    def test_garmin_bronze_is_seeded(self):
        a, b, c = self.digests(garmin)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_garmin_truth_matches_files(self):
        truth = garmin(self.dir, 7)
        self.assertEqual(len(truth), 4)
        for t in truth:
            self.assertTrue(50 <= t["ts_rows"] <= 80)
            self.assertTrue(os.path.isfile(os.path.join(
                self.dir, "activity", str(t["activity_id"]), "splits.json")))


if __name__ == "__main__":
    unittest.main()
