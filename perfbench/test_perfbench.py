"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The span arithmetic and the tail rule are tested here directly; query
order, workload membership and the result digest are tested on the JVM
(graft.perfbench.SelfTest), which this file builds and runs once.
"""
import json
import random
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def span(id, parent, start, end, name="s", trace=0, **attrs):
    return {"id": id, "parent": parent, "trace": trace, "name": name,
            "layer": "t", "start_ns": start, "end_ns": end, "attrs": attrs}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 15, 20)]
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(selfs[1] * 1e9, 50)  # 100 - |[10,60]|
        self.assertAlmostEqual(selfs[2] * 1e9, 25)
        self.assertAlmostEqual(selfs[4] * 1e9, 5)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, 0, 100, 200), span(2, 1, 50, 150), span(3, 1, 190, 400)]
        self.assertAlmostEqual(metrics.self_times(spans)[1] * 1e9, 40)

    def test_never_negative_on_random_trees(self):
        rng = random.Random(3)
        for _ in range(200):
            spans = [span(1, 0, 0, 1000)]
            for i in range(2, 40):
                a = rng.randrange(-200, 1100)
                spans.append(span(i, rng.randrange(1, i), a, a + rng.randrange(0, 600)))
            selfs = metrics.self_times(spans)
            for s in spans:
                self.assertGreaterEqual(selfs[s["id"]], 0)
                self.assertLessEqual(selfs[s["id"]], metrics.dur(s))


class TailRule(unittest.TestCase):
    def check(self, n):
        idx, pct = metrics.tail_rank(n)
        self.assertEqual(n - 1 - idx, 10, "exactly ten samples beyond the tail")
        self.assertAlmostEqual(pct, 100.0 * (idx + 1) / n)

    def test_rule(self):
        for n in range(11, 500):
            self.check(n)
        for n in range(0, 11):
            self.assertIsNone(metrics.tail_rank(n))


class EndToEnd(unittest.TestCase):
    """end_to_end on a synthetic run: set-up rounds of 1, 3 and 2 s, a 1 s
    warm-up, then timed passes of 3 queries each, query q taking q × the
    pass's factor seconds."""

    def spans(self, factors):
        s = 1_000_000_000
        out = [span(1, 0, 0, 100 * s, name="run", min_passes=3, peak_rss_mb=100.0,
                    probe_s=[metrics.PROBE_REF_S, 9.0, metrics.PROBE_REF_S])]
        for r, d in enumerate((1, 3, 2)):
            out.append(span(10 + r, 1, 0, d * s, name="setup"))
        out.append(span(20, 1, 5 * s, 6 * s, name="warmup"))
        t, i = 10 * s, 100
        for p, f in enumerate(factors, start=1):
            pid = i
            qs = []
            for q in range(1, 4):
                i += 1
                qs.append(span(i, pid, t, t + int(q * f * s), name="query", query=f"q{q}"))
                t += int(q * f * s)
            out.append(span(pid, 1, qs[0]["start_ns"], t, name="pass", traced=False))
            out.extend(qs)
            i += 1
        return out

    def test_hot_latency_and_early_tail(self):
        m, info = metrics.end_to_end(self.spans([2.0, 1.5, 3.0, 1.0]))
        self.assertAlmostEqual(m["total_s"][0], 1 + 2 + 3)  # fastest run of each query
        self.assertAlmostEqual(m["geomean_s"][0], 6 ** (1 / 3))
        self.assertAlmostEqual(m["setup_s"][0], 2 + 1)  # median round + warm-up
        self.assertEqual((info["samples"], info["tail_samples"], info["passes"]), (12, 9, 4))
        self.assertEqual(m["tail_s"][0], 9.0)  # nine early samples: ≤10, so the maximum

    def test_times_scale_with_the_host_probe(self):
        spans = self.spans([2.0, 1.5, 3.0, 1.0])
        base, _ = metrics.end_to_end(spans)
        spans[0]["attrs"]["probe_s"] = [2 * metrics.PROBE_REF_S] * 3  # a host at half speed
        slow, info = metrics.end_to_end(spans)
        for k in ("setup_s", "total_s", "geomean_s", "p50_s", "tail_s"):
            self.assertAlmostEqual(slow[k][0] * 2, base[k][0])
            self.assertAlmostEqual(info["raw_s"][k], base[k][0])
        self.assertEqual(slow["peak_rss_mb"], base["peak_rss_mb"])

    def test_slow_pass_does_not_move_hot_latency(self):
        calm, _ = metrics.end_to_end(self.spans([1.0, 1.0, 1.0, 1.0]))
        burst, _ = metrics.end_to_end(self.spans([1.0, 4.0, 1.0, 1.0]))
        self.assertAlmostEqual(calm["total_s"][0], burst["total_s"][0])
        self.assertAlmostEqual(calm["geomean_s"][0], burst["geomean_s"][0])


class Jvm(unittest.TestCase):
    """Runs graft.perfbench.SelfTest once and checks what it reports."""

    @classmethod
    def setUpClass(cls):
        build.build()
        d = run.fresh_dir("selftest")
        out = d / "selftest.json"
        run.jvm(["--data", str(run.DATA), "--out", str(out)], d, d / "jvm.log",
                main="graft.perfbench.SelfTest")
        cls.report = json.loads(out.read_text())

    def test_checks_pass(self):
        failed = {k: v for k, v in self.report["checks"].items() if v != "ok"}
        self.assertEqual(failed, {})
        for name in ("order_same_seed", "order_other_seed", "members_defined"):
            for w in run.WORKLOADS:
                self.assertIn(f"{w}.{name}", self.report["checks"])
        for name in ("digest_partitioning", "digest_sees_duplicate", "workloads_disjoint"):
            self.assertIn(name, self.report["checks"])

    def test_cli_and_jvm_name_the_same_workloads(self):
        self.assertEqual(sorted(self.report["workloads"]), sorted(run.WORKLOADS))

    def test_every_member_has_an_expected_digest(self):
        digests = json.loads(run.DIGESTS.read_text())
        members = {q for ms in self.report["workloads"].values() for q in ms}
        self.assertEqual(members, set(digests))

    def test_tail_rule_at_each_workload_sample_count(self):
        for w, members in self.report["workloads"].items():
            n = self.report["min_passes"] * len(members)
            with self.subTest(workload=w, samples=n):
                idx, pct = metrics.tail_rank(n)
                self.assertEqual(n - 1 - idx, 10)
                self.assertGreater(pct, 50.0, "tail at or below the median")


if __name__ == "__main__":
    unittest.main()
