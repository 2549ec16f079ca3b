"""Generator determinism: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import json
import os
import tempfile
import unittest
import zipfile

import gen


class RegistryDropTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def drop(self, seed, files=4, rows=300):
        d = os.path.join(self.tmp.name, str(seed))
        expected = gen.registry_drop(d, seed, files, rows)
        with open(os.path.join(d, "drop.zip"), "rb") as fh:
            return fh.read(), expected, os.path.join(d, "drop.zip")

    def test_same_seed_gives_identical_bytes(self):
        a, ea, _ = self.drop(7)
        b, eb, _ = self.drop(7)
        self.assertEqual(a, b)
        self.assertEqual(json.dumps(ea, sort_keys=True), json.dumps(eb, sort_keys=True))

    def test_new_seed_gives_different_bytes_of_the_same_size(self):
        a, ea, pa = self.drop(7)
        b, eb, pb = self.drop(8)
        self.assertNotEqual(a, b)
        self.assertNotEqual(ea["records"], eb["records"])
        # same files, rows and records per (table, klass); bytes within 2%
        with zipfile.ZipFile(pa) as za, zipfile.ZipFile(pb) as zb:
            self.assertEqual(za.namelist(), zb.namelist())
        self.assertEqual(ea["input_rows"], eb["input_rows"])
        self.assertEqual({k: v["count"] for k, v in ea["records"].items()},
                         {k: v["count"] for k, v in eb["records"].items()})
        self.assertLess(abs(len(a) - len(b)), 0.02 * len(a))

    def test_dirty_values_are_present(self):
        _, _, path = self.drop(3)
        with zipfile.ZipFile(path) as z:
            csv = z.read("drop/registrations_0000.csv").decode()
        rows = [line.split(",") for line in csv.splitlines()[1:]]
        self.assertTrue(any(" " in r[0] or "-" in r[0] for r in rows))  # spaced NHS numbers
        self.assertTrue(any(r[4] and r[4] != r[4].upper() for r in rows))  # lower-case postcodes
        self.assertTrue(any(c.strip() == "" for r in rows for c in r))  # blank cells
        self.assertTrue(all(len(r) == len(gen.REG_HEADER) for r in rows))


if __name__ == "__main__":
    unittest.main()
