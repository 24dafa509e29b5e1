"""The seeded input generators: same seed, same bytes.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_tables  # noqa: E402
import gen_tsv  # noqa: E402


class TsvTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.dir.cleanup()

    def gen(self, name, seed, rows=3000):
        path = os.path.join(self.dir.name, name)
        expect = gen_tsv.generate(path, seed, rows, 0.05)
        return path, expect

    def test_same_seed_gives_identical_bytes(self):
        a, _ = self.gen("a.tsv", 7)
        b, _ = self.gen("b.tsv", 7)
        self.assertTrue(filecmp.cmp(a, b, shallow=False))
        self.assertTrue(filecmp.cmp(a + ".expect.json", b + ".expect.json", shallow=False))

    def test_other_seed_gives_other_bytes(self):
        a, _ = self.gen("a.tsv", 7)
        b, _ = self.gen("b.tsv", 8)
        self.assertFalse(filecmp.cmp(a, b, shallow=False))

    def test_shape_and_record(self):
        path, expect = self.gen("a.tsv", 3)
        with open(path, encoding="utf-8") as f:
            lines = f.read().split("\n")
        self.assertEqual(lines[-1], "")
        rows = [ln.split("\t") for ln in lines[:-1]]
        self.assertEqual(rows[0], [c for c, _ in gen_tsv.COLUMNS])
        self.assertEqual(len(rows) - 1, expect["rows"])
        self.assertTrue(all(len(r) == 17 for r in rows))
        # the inference sample stays clean
        for r in rows[1:gen_tsv.INFERENCE_SAMPLE + 1]:
            self.assertFalse(any(c in gen_tsv.NULL_TOKENS for c in r))
        for name, spellings in gen_tsv.FAILING.items():
            j = [c for c, _ in gen_tsv.COLUMNS].index(name)
            injected = sum(1 for r in rows[1:] if r[j] in spellings)
            self.assertEqual(injected, expect["failed_cells"][name])
            self.assertGreater(injected, 0)
        with open(path + ".expect.json") as f:
            self.assertEqual(json.load(f), json.loads(json.dumps(expect)))


class TablesTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write(os.path.join(d, "a"), 42, 0.001)
            gen_tables.write(os.path.join(d, "b"), 42, 0.001)
            names = sorted(os.listdir(os.path.join(d, "a")))
            self.assertEqual(len(names), 10)
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(d, "a"), os.path.join(d, "b"), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))


if __name__ == "__main__":
    unittest.main()
