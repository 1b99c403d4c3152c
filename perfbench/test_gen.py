"""Generator tests: same seed, same bytes; another seed, other bytes; the
reference's edge cases are planted.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import glob
import hashlib
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def tree(root):
    """{relative path: sha256} of every file under root."""
    out = {}
    for p in sorted(glob.glob(f"{root}/**/*", recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def generated(self, kind, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(kind, d, seed)
            return tree(d)

    def test_same_seed_same_bytes(self):
        for kind in sorted(gen.GENERATORS):
            with self.subTest(kind=kind):
                a = self.generated(kind, 7)
                self.assertTrue(a)
                self.assertEqual(a, self.generated(kind, 7))

    def test_other_seed_other_bytes(self):
        for kind in sorted(gen.GENERATORS):
            with self.subTest(kind=kind):
                a, b = self.generated(kind, 7), self.generated(kind, 8)
                self.assertEqual(sorted(a), sorted(b))
                self.assertNotEqual(a, b)

    def test_reference_edge_cases_are_planted(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("hourly", d, 3)
            for h in range(gen.HOURS):
                delays = [r for p in sorted(glob.glob(
                    f"{d}/hourly/csv/delays/2024/12/25/{h:02d}/*.csv"))
                    for r in csv.DictReader(open(p))]
                self.assertTrue(any(r["Vehicle No"] == "" for r in delays))
                self.assertTrue(any("przed czasem" in r["Delay"]
                                    for r in delays))
                weather = [r for p in glob.glob(
                    f"{d}/hourly/csv/weather/2024/12/25/{h:02d}/*.csv")
                    for r in csv.DictReader(open(p))]
                self.assertTrue(any(r["temperatura"] == "" for r in weather))
                keys = [(r["id_stacji"], r["godzina_pomiaru"])
                        for r in weather]
                self.assertLess(len(set(keys)), len(keys))


if __name__ == "__main__":
    unittest.main()
