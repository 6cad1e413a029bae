"""The per-query percentiles of the batch workloads.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def record(walls_by_pass):
    """A batch run record whose timed pass i ran each query with the walls
    in walls_by_pass[i] ({query: wall s})."""
    return {
        "setup": [[0.1, 0.2]] * 3, "warmup_s": 9.0, "failed": 0, "attempted": 1,
        "result_cache": {"builds": 0, "bytes": 0},
        "passes": [{"wall_s": sum(w.values()), "traced": False, "layers": {}}
                   for w in walls_by_pass],
        "queries": [{"name": q, "pass": i + 1, "wall_s": s}
                    for i, w in enumerate(walls_by_pass) for q, s in w.items()],
    }


class QueryPercentileTest(unittest.TestCase):
    def e2e(self, walls_by_pass):
        e2e, _, _ = run.summarize("query_mix", record(walls_by_pass), {}, 100.0)
        return e2e

    def test_p50_is_over_per_query_medians(self):
        passes = [{"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0},
                  {"a": 1.2, "b": 2.2, "c": 3.2, "d": 4.2},
                  {"a": 9.0, "b": 2.1, "c": 3.1, "d": 4.1}]  # one slow sample of "a"
        p50, _, n = self.e2e(passes)["query_s.p50"]
        self.assertAlmostEqual(p50, (2.1 + 3.1) / 2)
        self.assertEqual(n, 12)

    def test_pass_count_does_not_move_the_percentiles(self):
        one = [{"a": 1.0, "b": 2.0, "c": 3.0}]
        three = one * 3
        for m in ("query_s.p50", "query_s.p90"):
            self.assertAlmostEqual(self.e2e(one)[m][0], self.e2e(three)[m][0])


if __name__ == "__main__":
    unittest.main()
