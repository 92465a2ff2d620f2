"""Unit tests of scripts/perf_pairs.py: seed lists, the per-metric verdict,
and the hot latencies and set-up phases read from a span file.

    python3 -m unittest discover -s scripts -p 'test_perf_pairs.py'
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import perf_pairs  # noqa: E402


class SeedListTest(unittest.TestCase):
    def test_ranges_lists_and_mixes(self):
        self.assertEqual(perf_pairs.seed_list("1-10"), list(range(1, 11)))
        self.assertEqual(perf_pairs.seed_list("1,3,5"), [1, 3, 5])
        self.assertEqual(perf_pairs.seed_list("1-3,7"), [1, 2, 3, 7])
        self.assertEqual(perf_pairs.seed_list("4"), [4])


class CompareTest(unittest.TestCase):
    # ten parent runs with a small spread around 10 s (IQR 0.2 s)
    PARENT = [9.8, 9.9, 10.0, 10.1, 10.2, 9.8, 9.9, 10.0, 10.1, 10.2]

    def verdict(self, change, lower=True, bound=0.25, parent=PARENT):
        return perf_pairs.compare(parent, change, lower, bound)[-1]

    def test_improved_needs_bound_iqr_and_nine_wins(self):
        self.assertEqual(self.verdict([6.0] * 10), "improved")
        # past the bound in the median, but only eight pairs of ten won
        self.assertEqual(self.verdict([6.0] * 8 + [11.0] * 2), "unresolved")
        # nine wins of ten are enough
        self.assertEqual(self.verdict([6.0] * 9 + [11.0]), "improved")

    def test_a_move_inside_the_bound_is_unresolved(self):
        self.assertEqual(self.verdict([8.0] * 10), "unresolved")

    def test_a_move_inside_the_parent_spread_is_unresolved(self):
        # the parent's quartiles lie 4 s apart: a 3 s move (30%, every
        # pair won) shows nothing
        wide = [5.0, 8.0, 10.0, 12.0, 15.0] * 2
        change = [x - 3.0 for x in wide]
        self.assertEqual(self.verdict(change, parent=wide), "unresolved")
        self.assertEqual(self.verdict([x - 5.0 for x in wide], parent=wide),
                         "improved")

    def test_worse_needs_only_the_bound(self):
        self.assertEqual(self.verdict([13.0] * 10), "worse")
        self.assertEqual(self.verdict([12.0] * 10), "unresolved")

    def test_higher_is_better(self):
        self.assertEqual(self.verdict([13.0] * 10, lower=False), "improved")
        self.assertEqual(self.verdict([7.0] * 10, lower=False), "worse")

    def test_fields(self):
        mp, mc, delta, won, iqr, _ = perf_pairs.compare(
            self.PARENT, [5.0] * 10, True, 0.25)
        self.assertEqual((mp, mc, won), (10.0, 5.0, 10))
        self.assertAlmostEqual(delta, -0.5)
        self.assertAlmostEqual(iqr, 0.2)


class HotLatenciesTest(unittest.TestCase):
    def test_fastest_untraced_run_per_query_scaled(self):
        def span(id_, name, parent, start_s, end_s, **attrs):
            return {"id": id_, "name": name, "parent": parent,
                    "start_ns": int(start_s * 1e9), "end_ns": int(end_s * 1e9),
                    "attrs": attrs}
        spans = [
            span(1, "pass", 0, 0, 10, traced=False),
            span(2, "pass", 0, 10, 20, traced=True),
            span(3, "pass", 0, 20, 30, traced=False),
            span(11, "query", 1, 0.0, 0.5, query="qa"),
            span(12, "query", 1, 1.0, 1.2, query="qb"),
            # the traced pass is faster but does not count
            span(21, "query", 2, 10.0, 10.1, query="qa"),
            span(31, "query", 3, 20.0, 20.4, query="qa"),
            span(32, "query", 3, 21.0, 21.3, query="qb"),
            # a query span under a warm-up, not a pass, does not count
            span(41, "query", 99, 40.0, 40.01, query="qa"),
        ]
        with tempfile.TemporaryDirectory() as d:
            path = Path(d) / "spans.jsonl"
            path.write_text("\n".join(json.dumps(s) for s in spans) + "\n\n")
            got = perf_pairs.hot_latencies(d, {"spans": "spans.jsonl"}, 2.0)
        self.assertEqual(got, {"qa": 0.8, "qb": 0.4})
        self.assertEqual(list(got), ["qa", "qb"])


class PhasesTest(unittest.TestCase):
    def test_setup_rounds_warmup_and_first_pass_jit_scaled(self):
        def span(id_, name, parent, start_s, end_s, **attrs):
            return {"id": id_, "name": name, "parent": parent,
                    "start_ns": int(start_s * 1e9), "end_ns": int(end_s * 1e9),
                    "attrs": attrs}
        spans = [
            span(1, "run", 0, 0, 100),
            span(2, "setup", 1, 0, 6, round=1),
            span(3, "session", 2, 0, 1),
            span(4, "catalog", 2, 1, 5),
            span(5, "views", 2, 5, 6),
            span(6, "setup", 1, 6, 8, round=2),
            span(7, "session", 6, 6, 6.5),
            span(8, "catalog", 6, 6.5, 7.5),
            span(9, "views", 6, 7.5, 8),
            span(10, "warmup", 1, 8, 11),
            # a query of the warm-up is no set-up phase
            span(11, "query", 10, 8, 9, query="qa"),
            span(12, "pass", 1, 11, 20, traced=False, jit_s=1.5, **{"pass": 1}),
            span(13, "pass", 1, 20, 30, traced=False, jit_s=3.0, **{"pass": 2}),
        ]
        with tempfile.TemporaryDirectory() as d:
            path = Path(d) / "spans.jsonl"
            path.write_text("\n".join(json.dumps(s) for s in spans) + "\n")
            got = perf_pairs.phases(d, {"spans": "spans.jsonl"}, 2.0)
        self.assertEqual(got, {
            "pass1.jit_s": 3.0,
            "r1.catalog_s": 8.0, "r1.session_s": 2.0, "r1.views_s": 2.0,
            "r2.catalog_s": 2.0, "r2.session_s": 1.0, "r2.views_s": 1.0,
            "warmup_s": 6.0})


if __name__ == "__main__":
    unittest.main()
