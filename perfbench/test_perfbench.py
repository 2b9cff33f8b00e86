"""Tests of the benchmark's own code (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa

import checks
import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _gen(self, workload, seed, name):
        return gen.generate(workload, seed, 3000, os.path.join(self.tmp, name))

    def test_same_seed_same_bytes(self):
        for w in ("fanout", "neardup_curate"):
            a = self._gen(w, 7, w + "a")
            b = self._gen(w, 7, w + "b")
            self.assertEqual(a["files"], b["files"])
            c = self._gen(w, 8, w + "c")
            self.assertNotEqual(a["files"], c["files"])

    def test_log_corpus_shape(self):
        a = self._gen("fanout", 3, "a")
        lines = checks.read_lines(os.path.join(self.tmp, "a", "input"))
        self.assertEqual(len(lines), a["records"])
        for line in lines[:50]:
            key, cat, amount, text = line.split("\t")
            self.assertIn(cat, gen.CATEGORY_NAMES)
            self.assertTrue(1 <= int(amount) <= gen.LOG_PARAMS["amount_max"])
            self.assertEqual(len(text.split(" ")), gen.LOG_PARAMS["words"])

    def test_planted_pairs_straddle_tau(self):
        m = self._gen("neardup_curate", 1, "n")
        self.assertGreater(m["true_pairs"], 0)
        self.assertLess(m["true_pairs"], m["planted_pairs"])

    def test_cache_reuses_and_repairs(self):
        d1, m1 = gen.cached_input(self.tmp, "fanout", 5, size=500)
        part = os.path.join(d1, "input", "part-00000.txt")
        stamp = os.path.getmtime(part)
        d2, m2 = gen.cached_input(self.tmp, "fanout", 5, size=500)
        self.assertEqual((d1, m1), (d2, m2))
        self.assertEqual(stamp, os.path.getmtime(part))
        with open(part, "a") as f:
            f.write("tampered\n")
        d3, m3 = gen.cached_input(self.tmp, "fanout", 5, size=500)
        self.assertEqual(m1["files"], m3["files"])


class StatsTest(unittest.TestCase):
    def test_median_and_ratio(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.ratio(3, 4), 0.75)
        self.assertEqual(stats.ratio(3, 0), 0.0)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": -1, "start_ms": 0, "end_ms": 100},
            # two overlapping children cover 10..60
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 50},
            {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 60},
            # grandchild: counts against 2, not against 1
            {"id": 4, "parent": 2, "start_ms": 20, "end_ms": 25},
            # a child reaching past its parent's end only covers the inside
            {"id": 5, "parent": 1, "start_ms": 90, "end_ms": 120},
        ]
        self.assertEqual(stats.self_times(spans),
                         {1: 100 - 50 - 10, 2: 40 - 5, 3: 30, 4: 5, 5: 30})


class CheckTest(unittest.TestCase):
    def test_jaccard_rounds_half_up(self):
        self.assertEqual(gen.round_half_up(0.71875), 0.7188)
        self.assertEqual(gen.round_half_up(0.71865), 0.7187)
        a, b = {"x", "y", "z"}, {"x", "y", "w"}
        self.assertEqual(gen.jaccard4(a, b), 0.5)

    def test_shingles_match_word_ngrams(self):
        self.assertEqual(gen.shingles("A b  a B c", 2), {"a b", "b a", "b c"})
        self.assertEqual(gen.shingles("one two", 3), set())

    def test_union_find_labels_by_minimum(self):
        uf = checks.UnionFind()
        for a, b in [(5, 9), (9, 2), (7, 8)]:
            uf.union(a, b)
        self.assertEqual({x: uf.find(x) for x in (2, 5, 9, 7, 8)},
                         {2: 2, 5: 2, 9: 2, 7: 7, 8: 7})

    def test_compare_is_order_free_and_counts_matched_rows(self):
        con = checks._connect(1)
        con.register("e", pa.table({"line": ["a", "b", "b", "c"]}))
        con.register("o1", pa.table({"line": ["b", "a", "c", "b"]}))
        con.register("o2", pa.table({"line": ["a", "b", "x"]}))
        self.assertEqual(checks._compare(con, "select line from e", "select line from o1"),
                         (True, 4, 4))
        self.assertEqual(checks._compare(con, "select line from e", "select line from o2"),
                         (False, 4, 2))

    def test_expected_rows_for_a_tiny_corpus(self):
        con = checks._connect(1)
        con.register("inp", pa.table({"line": ["k1\tca\t5\tbaba be", "k2\tca\t7\tbe be"]}))
        rows = dict((b[0], sorted(r[0] for r in con.execute(b[3]).fetchall()))
                    for b in checks.NATIVE_BRANCHES)
        self.assertEqual(rows["count"], ["2\t10\t28"])
        self.assertEqual(rows["bykey"], ["k1\t1\t5", "k2\t1\t7"])
        self.assertEqual(rows["proj"], ["k1\t5", "k2\t7"])


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_are_unique_and_cover_every_branch(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        for b in checks.BRANCHES:
            for k in ("busy_s", "cpu_s", "records_out"):
                self.assertIn("pipes.%s.%s" % (b[0], k), names)


if __name__ == "__main__":
    unittest.main()
