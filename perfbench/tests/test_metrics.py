"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import compare  # noqa: E402
import metrics  # noqa: E402


def span(id, parent, name, t0, t1, **kw):
    s = {"id": id, "parent": parent, "name": name, "t0": t0, "t1": t1,
         "num": kw.pop("num", {}), "str": kw.pop("str", {})}
    assert not kw
    return s


class PercentileRule(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.5), 10)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(metrics.percentile(xs, 0.5), 3.0)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))


class FailRatio(unittest.TestCase):
    def test_counts_failed_and_unmarked_ops(self):
        ops = [{"num": {"ok": 1}}, {"num": {"ok": 0}}, {"num": {}}, {"num": {"ok": 1}}]
        self.assertEqual(metrics.fail_ratio(ops), (4, 2, 0.5))

    def test_all_good(self):
        self.assertEqual(metrics.fail_ratio([{"num": {"ok": 1}}] * 3), (3, 0, 0.0))

    def test_nothing_attempted_is_a_failure(self):
        self.assertEqual(metrics.fail_ratio([])[2], 1.0)


class JobIntervalUnion(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        iv = [(0, 10), (5, 15), (6, 7), (20, 25), (25, 30)]
        self.assertEqual(metrics.union_length(iv), 15 + 10)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0.0)

    def test_clip_to_op_windows(self):
        self.assertEqual(metrics.clip([(0, 10), (12, 20)], [(5, 15)]), [(5, 10), (12, 15)])

    def test_driver_gap_is_wall_minus_covered(self):
        # one op of 100 ms; jobs cover 10..40 and 30..60 and one job
        # sticks out past the op's end, which is not charged to it
        rec = {"spans": [span(0, -1, "pass", 0, 100, str={"phase": "timed", "traced": "1"}),
                         span(1, 0, "q", 0, 100, str={"cls": "read", "phase": "timed"},
                              num={"ok": 1})],
               "jobs": [{"id": i, "span": 1, "t0": a, "t1": b, "stages": 1, "tasks": 1,
                         "run_ms": 10.0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0}
                        for i, (a, b) in enumerate([(10, 40), (30, 60), (90, 130)])],
               "qes": [], "facts": {}}
        m = metrics.per_layer(metrics.Run(rec))
        self.assertAlmostEqual(m["driver.gap_s"][0], (100 - 60) / 1000)
        self.assertEqual(m["spark.jobs"][0], 3)
        self.assertAlmostEqual(m["spark.core_busy_ratio"][0], 30 / (60 * metrics.CORES))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "a", 10, 40),
                 span(2, 1, "a.inner", 15, 35), span(3, 0, "b", 50, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 30 - 10)
        self.assertEqual(st[1], 30 - 20)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 10)


class SteadyWall(unittest.TestCase):
    def test_each_op_takes_its_own_median_over_the_passes(self):
        # three passes of the same two ops (one of them twice a pass);
        # pass 0 is slow throughout, and pass 2 has one slow op
        durs = [(50, 30, 30), (20, 10, 10), (22, 40, 11)]
        spans = []
        for p, (a, b1, b2) in enumerate(durs):
            pid = len(spans)
            spans.append(span(pid, -1, "pass", 0, 1000, str={"phase": "timed", "traced": "0"}))
            t = 0
            for name, d in (("a", a), ("b", b1), ("b", b2)):
                spans.append(span(len(spans), pid, name, t, t + d,
                                  str={"cls": "read", "phase": "timed"}, num={"ok": 1}))
                t += d
        run = metrics.Run({"spans": spans})
        samples = run.op_samples(False)
        self.assertEqual(samples, {("a", 1): [50, 20, 22], ("b", 1): [30, 10, 40],
                                   ("b", 2): [30, 10, 11]})
        self.assertEqual(metrics.steady_wall(samples), 22 + 30 + 11)
        self.assertEqual(sorted(run.pass_walls(False)), [40, 73, 110])
        self.assertEqual(metrics.steady_wall({}), 0.0)


class MetricNames(unittest.TestCase):
    def test_rule(self):
        for ok in ("wall_s", "lake.meta.commits", "p90-ms", "9lives"):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "naïve"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_every_declared_and_emitted_name_is_valid(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        declared = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        declared += [w["name"] for w in bench["workloads"]]
        self.assertTrue(all(metrics.valid_name(n) for n in declared))
        self.assertEqual(len(declared), len(set(declared)))
        empty = {"spans": [], "jobs": [], "qes": [], "facts": {},
                 "session_ms": 1.0, "warmup_ms": 1.0, "heap_after_mb": 1.0}
        run = metrics.Run(empty)
        self.assertEqual(set(metrics.end_to_end(run)),
                         {m["name"] for m in bench["end_to_end"]})
        self.assertEqual(set(metrics.per_layer(run)),
                         {m["name"] for m in bench["per_layer"]})


class Compare(unittest.TestCase):
    def test_pairs_won_ignores_ties(self):
        self.assertEqual(compare.pairs_won([10, 10, 10], [9, 10, 11], lower_better=True),
                         (1 / 3, 3))

    def test_verdicts(self):
        spec = {"better": "lower", "bound": 0.1}
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base], spec), "gain")
        self.assertEqual(compare.verdict(base, [x * 1.2 for x in base], spec), "regression")
        self.assertEqual(compare.verdict(base, list(base), spec), "same")
        noisy = [60, 140, 70, 130, 100, 65, 135, 100, 75, 125]
        self.assertEqual(compare.verdict(noisy, list(reversed(noisy)), spec), "unresolved")

    def test_winning_every_pair_does_not_resolve_overlapping_sides(self):
        spec = {"better": "lower", "bound": 0.1}
        noisy = [60, 140, 70, 130, 100, 65, 135, 100, 75, 125]
        self.assertEqual(compare.verdict(noisy, [x - 1 for x in noisy], spec), "unresolved")

    def test_separated_compares_every_run_with_every_run(self):
        self.assertEqual(compare.separated([10, 12], [8, 9], lower_better=True), 1)
        self.assertEqual(compare.separated([10, 12], [13, 14], lower_better=True), -1)
        self.assertEqual(compare.separated([10, 12], [9, 11], lower_better=True), 0)
        self.assertEqual(compare.separated([10, 12], [13, 14], lower_better=False), 1)

    def test_no_gain_when_the_change_fails_more(self):
        spec = {"better": "lower", "bound": 0.1}
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        faster = [x * 0.8 for x in base]
        self.assertEqual(compare.verdict(base, faster, spec, 0, 1), "failures")
        self.assertEqual(compare.verdict(base, faster, spec, 1, 1), "gain")

    def test_load_runs_keeps_failed_counts(self):
        lines = [{"workload": "registry", "seed": 1},
                 {"correct": False, "attempted": 5, "failed": 2,
                  "metrics": {"wall_s": {"value": 1.5, "unit": "s"}}}]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "runs.jsonl")
            with open(path, "w") as fh:
                fh.write("".join(json.dumps(x) + "\n" for x in lines))
            self.assertEqual(compare.load_runs(path), [("registry", {"wall_s": 1.5}, 2)])


if __name__ == "__main__":
    unittest.main()
