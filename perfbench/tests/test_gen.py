"""Determinism of the benchmark's input generators.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for base, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(base, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class CorpusTest(unittest.TestCase):
    def corpus(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.write_corpus(d, seed, megabytes=0.2, vocab=2_000)
            return tree_digest(d)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.corpus(7), self.corpus(7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.corpus(7), self.corpus(8))

    def test_counts_match_text(self):
        with tempfile.TemporaryDirectory() as d:
            text_dir, nbytes, nwords = gen.write_corpus(d, 3, megabytes=0.1, vocab=500)
            counts = {}
            size = 0
            for f in sorted(os.listdir(text_dir)):
                with open(os.path.join(text_dir, f)) as fh:
                    data = fh.read()
                size += len(data)
                for w in data.split():
                    counts[w] = counts.get(w, 0) + 1
            with open(os.path.join(d, "counts.tsv")) as fh:
                expected = {w: int(c) for w, c in (l.split("\t") for l in fh)}
            self.assertEqual(counts, expected)
            self.assertEqual(size, nbytes)
            self.assertEqual(sum(expected.values()), nwords)


class EventsTest(unittest.TestCase):
    def events(self, seed, n=5_000):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "events.bin")
            n_ids = gen.write_events(p, seed, n)
            with open(p, "rb") as fh:
                return fh.read(), n_ids

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.events(11), self.events(11))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.events(11)[0], self.events(12)[0])

    def test_resends_repeat_recent_ids(self):
        import numpy as np
        raw, n_ids = self.events(5, 20_000)
        recs = np.frombuffer(raw, dtype=gen.EVENT_DTYPE)
        self.assertEqual(recs.itemsize, 40)
        ids = recs["event_id"]
        self.assertEqual(len(np.unique(ids)), n_ids)
        resent = len(ids) - n_ids
        self.assertTrue(0.03 * len(ids) < resent < 0.07 * len(ids))
        # fresh ids are sent in increasing order; a re-send repeats every field
        first = {}
        for i, r in enumerate(recs):
            e = int(r["event_id"])
            if e in first:
                self.assertEqual(recs[first[e]].tobytes(), r.tobytes())
            else:
                self.assertEqual(e, len(first))
                first[e] = i


class QuerySampleTest(unittest.TestCase):
    names = [f"q{i:03d}" for i in range(100)]

    def test_seed_orders_a_fixed_set(self):
        a, b = gen.sample_queries(3, self.names, 10), gen.sample_queries(4, self.names, 10)
        self.assertEqual(a, gen.sample_queries(3, self.names, 10))
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))

    def test_one_per_stratum(self):
        pick = gen.sample_queries(9, self.names, 10)
        self.assertEqual(sorted(int(n[1:]) // 10 for n in pick), list(range(10)))


class TablesTest(unittest.TestCase):
    def test_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(a, 0.001)
            gen.write_tables(b, 0.001)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(len(os.listdir(a)), 10)


if __name__ == "__main__":
    unittest.main()
