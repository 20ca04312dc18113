"""Unit tests for the seeded input generators.

    python3 -m unittest perfbench/test_gen.py
"""

import csv
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def files_of(d):
    return sorted(os.listdir(d))


def total_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def rows(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))[1:]


class Determinism(unittest.TestCase):
    def check(self, workload):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.generate(workload, 7, a)
            gen.generate(workload, 7, b)
            gen.generate(workload, 8, c)
            self.assertEqual(files_of(a), files_of(b))
            for f in files_of(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False),
                                "%s differs between two runs of one seed" % f)
            self.assertEqual(files_of(a), files_of(c))
            self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                                shallow=False) for f in files_of(a)),
                            "a different seed gave identical inputs")
            size_a, size_c = total_bytes(a), total_bytes(c)
            self.assertLess(abs(size_a - size_c) / size_a, 0.05,
                            "a different seed changed the input size by more than 5%")

    def test_elt_daily(self):
        self.check("elt_daily")

    def test_stream_candles(self):
        self.check("stream_candles")


class Shapes(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = cls.tmp.name
        cls.elt = gen.gen_elt(3, os.path.join(cls.dir, "elt"))
        cls.stream = gen.gen_stream(3, os.path.join(cls.dir, "stream"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_elt_change_and_listing_rates(self):
        st = self.elt["stats"]
        for day in range(1, self.elt["days"] + 1):
            listed = gen.ELT_SYMBOLS + sum(st["new"][1:day + 1])
            self.assertAlmostEqual(st["changes"][day] / listed, 0.05, delta=0.015)
            self.assertAlmostEqual(st["new"][day] / listed, 0.01, delta=0.003)
            self.assertEqual(st["renames"][day], gen.ELT_RENAMES_PER_DAY)

    def test_elt_dirty_rows(self):
        d = os.path.join(self.dir, "elt")
        for day in range(self.elt["days"] + 1):
            rs = rows(os.path.join(d, "company_d%d.csv" % day))
            self.assertEqual(len(rs), self.elt["stats"]["rows"][day])
            syms = [r[0].strip() for r in rs if r[0]]
            dups = len(syms) - len(set(syms))
            self.assertEqual(dups, self.elt["stats"]["dups"][day])
            self.assertGreater(dups, 0)
            self.assertGreater(sum(1 for r in rs if r[0] and r[0] != r[0].strip()), 0)
            self.assertGreater(sum(1 for r in rs if r[6] and int(r[6]) <= 0), 0)
            self.assertEqual(sum(1 for r in rs if not any(r)), self.elt["stats"]["null_rows"][day])

    def test_elt_expected_silver_has_one_open_version_per_symbol(self):
        silver = rows(os.path.join(self.dir, "elt", "expected_silver.csv"))
        open_versions = {}
        for r in silver:
            open_versions[r[0]] = open_versions.get(r[0], 0) + (r[9] == "1")
        self.assertTrue(all(n == 1 for n in open_versions.values()))

    def test_stream_out_of_order_share_inside_watermark(self):
        for day in self.stream["days"]:
            rs = rows(os.path.join(self.dir, "stream", day["file"]))
            self.assertEqual(len(rs), day["rows"])
            seen = {}
            late = 0
            for r in rs:
                # timestamps are fixed-width, so string order is time order
                if r[1] < seen.get(r[2], ""):
                    late += 1
                seen[r[2]] = max(seen.get(r[2], ""), r[1])
            share = late / len(rs)
            self.assertGreater(share, 0.01)
            self.assertLess(share, gen.STREAM_OOO_SHARE)


if __name__ == "__main__":
    unittest.main()
