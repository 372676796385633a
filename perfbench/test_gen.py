"""Tests of the seeded generators: the same seed gives the same inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Scratch files go under .bench_build/ at the repository root.
"""
import os
import tempfile
import unittest

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".bench_build")


def read_tree(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p) as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class SeededGenerators(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        os.makedirs(SCRATCH, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=SCRATCH, prefix="test-gen-")
        cls.dir = cls.tmp.name
        cls.tables = {}
        for seed in (7, 8):
            cls.tables[seed] = os.path.join(cls.dir, f"tables-{seed}")
            gen.write_tables(cls.tables[seed], seed)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_corpus_content_hash_repeats_for_a_seed(self):
        hashes, truths = [], []
        for run in range(2):
            d = os.path.join(self.dir, f"corpus-{run}")
            truths.append(gen.write_corpus(d, 5))
            hashes.append((gen.content_hash(os.path.join(d, "documents.parquet")),
                           gen.content_hash(os.path.join(d, "embeddings.parquet"))))
        self.assertEqual(hashes[0], hashes[1])
        self.assertEqual(truths[0], truths[1])
        other = os.path.join(self.dir, "corpus-other")
        gen.write_corpus(other, 6)
        self.assertNotEqual(gen.content_hash(os.path.join(other, "documents.parquet")),
                            hashes[0][0])

    def test_tables_repeat_for_a_seed(self):
        again = os.path.join(self.dir, "tables-7-again")
        gen.write_tables(again, 7)
        for t in ("customer", "part", "orders", "lineitem"):
            self.assertEqual(gen.content_hash(os.path.join(again, f"{t}.parquet")),
                             gen.content_hash(os.path.join(self.tables[7], f"{t}.parquet")))
        self.assertNotEqual(gen.content_hash(os.path.join(self.tables[8], "lineitem.parquet")),
                            gen.content_hash(os.path.join(self.tables[7], "lineitem.parquet")))

    def test_model_project_sql_repeats_for_a_seed(self):
        a, b = os.path.join(self.dir, "proj-a"), os.path.join(self.dir, "proj-b")
        fa = gen.model_project(a, self.tables[7], 7)
        fb = gen.model_project(b, self.tables[7], 7)
        self.assertEqual(read_tree(a), read_tree(b))
        self.assertEqual(fa, fb)
        c = os.path.join(self.dir, "proj-c")
        gen.model_project(c, self.tables[8], 8)
        self.assertNotEqual(read_tree(a), read_tree(c))

    def test_model_project_truth_is_consistent(self):
        d = os.path.join(self.dir, "proj-truth")
        f = gen.model_project(d, self.tables[7], 7)
        self.assertEqual(len(f["row_counts"]), f["models"])
        self.assertEqual(len(f["expect_fail"]), 3)
        edited = os.path.basename(f["edit"]["file"])[:-len(".sql")]
        self.assertIn(edited, f["rebuilt"])
        self.assertGreater(len(f["rebuilt"]), 1)
        a, b = f["edit"]["variants"]
        self.assertNotEqual(a, b)


if __name__ == "__main__":
    unittest.main()
