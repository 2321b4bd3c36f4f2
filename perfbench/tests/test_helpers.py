"""Tests for the benchmark's pure helpers.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import gzip
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import digest  # noqa: E402
import gen     # noqa: E402
import stats   # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.1")


class TailTest(unittest.TestCase):
    def test_ten_or_fewer_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))
        self.assertEqual(stats.tail(list(range(10))), (100.0, 9, 10))

    def test_exactly_ten_samples_lie_beyond_the_reported_one(self):
        xs = [float(i) for i in range(100)]
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90.0, 89.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        pct, value, _ = stats.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class DigestTest(unittest.TestCase):
    cols = ["b", "a", "c"]
    rows = [(1, "x", 1.5), (2, None, -0.0), (3, "ü", float("nan")), (2, None, -0.0)]

    def test_row_order_does_not_matter(self):
        self.assertEqual(digest.digest(self.cols, self.rows),
                         digest.digest(self.cols, list(reversed(self.rows))))

    def test_column_order_does_not_matter(self):
        swapped = [(a, b, c) for b, a, c in self.rows]
        self.assertEqual(digest.digest(self.cols, self.rows),
                         digest.digest(["a", "b", "c"], swapped))

    def test_a_changed_missing_or_extra_row_changes_it(self):
        base = digest.digest(self.cols, self.rows)
        self.assertNotEqual(base, digest.digest(self.cols, self.rows[:-1]))
        self.assertNotEqual(base, digest.digest(self.cols, self.rows + [self.rows[0]]))
        self.assertNotEqual(base, digest.digest(self.cols, [(1, "y", 1.5)] + self.rows[1:]))

    def test_encoding_matches_the_jvm_side(self):
        # the bytes Digest.scala writes for the same values
        self.assertEqual(digest.encode(None), b"N;")
        self.assertEqual(digest.encode(True), b"B1;")
        self.assertEqual(digest.encode(-7), b"I-7;")
        self.assertEqual(digest.encode(1.5), b"F4609434218613702656;")
        self.assertEqual(digest.encode(-0.0), digest.encode(0.0))
        self.assertEqual(digest.encode("ab"), b"S2:ab;")


class SelfTimeTest(unittest.TestCase):
    def test_children_are_clipped_and_overlaps_counted_once(self):
        spans = [
            {"id": "op", "parent": "", "kind": "op", "start_ms": 0, "end_ms": 10},
            {"id": "j1", "parent": "op", "kind": "job", "start_ms": 1, "end_ms": 3},
            {"id": "j2", "parent": "op", "kind": "job", "start_ms": 2, "end_ms": 5},
            {"id": "j3", "parent": "op", "kind": "job", "start_ms": 8, "end_ms": 12},
            {"id": "s1", "parent": "j2", "kind": "stage", "start_ms": 2, "end_ms": 4},
        ]
        self_ms = stats.self_times(spans)
        self.assertEqual(self_ms["op"], 10 - (4 + 2))
        self.assertEqual(self_ms["job"], 2 + (3 - 2) + 4)
        self.assertEqual(self_ms["stage"], 2)


class FailureTest(unittest.TestCase):
    def test_raised_wrong_and_unchecked_ops_all_fail(self):
        ops = [{"key": "a", "ok": True}, {"key": "b", "ok": False},
               {"key": "c", "ok": True}, {"key": "d", "ok": True}]
        checks = {"a": True, "b": True, "c": False}
        self.assertEqual(stats.failures(ops, checks), (4, 3))
        self.assertEqual(stats.failures(ops[:1], checks), (1, 0))


class GeneratorTest(unittest.TestCase):
    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        return not (cmp.left_only or cmp.right_only or
                    filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)[1])

    def test_the_corpus_is_a_function_of_the_seed(self):
        tokens, gen.CORPUS_TOKENS = gen.CORPUS_TOKENS, 20_000
        try:
            with tempfile.TemporaryDirectory() as t:
                c1, n1, l1 = gen.corpus(5, os.path.join(t, "a"))
                c2, n2, l2 = gen.corpus(5, os.path.join(t, "b"))
                c3, n3, _ = gen.corpus(6, os.path.join(t, "c"))
                self.assertTrue(self.same_tree(os.path.join(t, "a"), os.path.join(t, "b")))
                self.assertEqual((c1, n1, l1), (c2, n2, l2))
                self.assertNotEqual(c1, c3)
                # word lengths by rank do not depend on the seed, nor does the size
                self.assertLess(abs(n1 - n3) / n1, 0.02)
                self.assertEqual(sum(c1.values()), 20_000)
                text = b"".join(
                    (gzip.open if f.endswith(".gz") else open)(os.path.join(t, "a", f), "rb").read()
                    for f in sorted(os.listdir(os.path.join(t, "a"))))
                self.assertEqual(text.count(b"\n"), l1)
                self.assertEqual(len(text), n1)
                self.assertFalse(self.same_tree(os.path.join(t, "a"), os.path.join(t, "c")))
        finally:
            gen.CORPUS_TOKENS = tokens

    def test_arrivals_are_a_function_of_the_seed(self):
        live = os.path.join(DATA, "documents.parquet")
        with tempfile.TemporaryDirectory() as t:
            end = gen.arrivals(5, live, os.path.join(t, "a"), 2, 5000, 2)
            gen.arrivals(5, live, os.path.join(t, "b"), 2, 5000, 2)
            gen.arrivals(6, live, os.path.join(t, "c"), 2, 5000, 2)
            self.assertEqual(end, 5000 + 2 * gen.DOCS_PER_FILE)
            self.assertTrue(self.same_tree(os.path.join(t, "a"), os.path.join(t, "b")))
            self.assertFalse(self.same_tree(os.path.join(t, "a"), os.path.join(t, "c")))
            mtimes = [os.path.getmtime(os.path.join(t, "a", f))
                      for f in sorted(os.listdir(os.path.join(t, "a")))]
            self.assertEqual(mtimes, sorted(mtimes))

    def test_every_seed_gives_arrivals_of_the_same_shape(self):
        import pyarrow.parquet as pq
        live = os.path.join(DATA, "documents.parquet")

        def shape(seed, out):
            gen.arrivals(seed, live, out, 3, 5000, 2)
            files = [pq.ParquetFile(os.path.join(out, f)) for f in sorted(os.listdir(out))]
            chars = [sum(f.read(columns=["n_chars"])["n_chars"].to_pylist()) for f in files]
            return [f.metadata.num_rows for f in files], chars
        with tempfile.TemporaryDirectory() as t:
            rows5, chars5 = shape(5, os.path.join(t, "a"))
            rows6, chars6 = shape(6, os.path.join(t, "b"))
            self.assertEqual(rows5, [gen.DOCS_PER_FILE] * 3)
            self.assertEqual(rows5, rows6)
            for a, b in zip(chars5, chars6):
                self.assertLess(abs(a - b) / a, 0.03)

    def test_a_traced_run_reads_the_first_landing_files(self):
        with tempfile.TemporaryDirectory() as t:
            manifest = gen.generate("ingest_stream", 5, DATA, t)
            landing = sorted(os.listdir(os.path.join(t, "landing")))
            trace = sorted(os.listdir(os.path.join(t, "landing_trace")))
            self.assertEqual(len(landing), manifest["files"])
            self.assertEqual(trace, landing[:gen.TRACE_FILES])
            self.assertTrue(all(filecmp.cmp(os.path.join(t, "landing", f),
                                            os.path.join(t, "landing_trace", f), shallow=False)
                                and os.path.getmtime(os.path.join(t, "landing", f))
                                == os.path.getmtime(os.path.join(t, "landing_trace", f))
                                for f in trace))


if __name__ == "__main__":
    unittest.main()
