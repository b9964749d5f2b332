"""Tests for the benchmark's result checks and the repeat-and-compare
helper. They need no JVM:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import run  # noqa: E402


def result_line(values, correct=True, failed=0):
    return {"seed": 0, "result": {"correct": correct, "attempted": 10, "failed": failed, "metrics": {
        k: {"value": v, "unit": "s"} for k, v in values.items()}}}


SPEC = {"end_to_end": [
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "cores_used", "unit": "cores", "better": "higher", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.2}]}


def run_set(walls, cores=None, setups=None):
    cores = cores or [2.0] * len(walls)
    setups = setups or [30.0] * len(walls)
    return [result_line({"wall_s": w, "cores_used": c, "setup_s": s})
            for w, c, s in zip(walls, cores, setups)]


class RecordedChecks(unittest.TestCase):
    """The checks the benchmark makes against digests.json."""

    def setUp(self):
        with open(run.DIGESTS) as f:
            self.expected = json.load(f)
        # a run whose checks match the recorded ones exactly
        self.checks = {q: {k: v[k] for k in ("rows", "schema", "digest")} for q, v in self.expected.items()}

    def raw(self, checks):
        queries = sorted(checks)
        samples = [{"query": q, "client": 0, "pass": 0, "latency_s": 0.5, "error": None} for q in queries]
        return {"queries": queries, "checks": checks, "setup_s": 30.0,
                "untraced": {"samples": samples, "wall_s": 10.0, "heap_peak_mb": 300.0, "cores_used": 1.0}}

    def test_every_workload_query_has_a_recorded_check(self):
        for q in self.expected.values():
            self.assertIn(q["check"], ("digest", "rows"))
        rows_only = [q for q, v in self.expected.items() if v["check"] == "rows"]
        self.assertTrue(all(q.startswith(tuple(p + "_" for p in run.ROWS_ONLY)) for q in rows_only))

    def test_matching_run_passes(self):
        e2e, attempted, failed, bad, _ = run.summarize(self.raw(self.checks), self.expected)
        self.assertEqual(bad, {})
        self.assertEqual(failed, 0)
        self.assertEqual(e2e["ok_ratio"], 1.0)
        self.assertEqual(attempted, 2 * len(self.checks))

    def test_tampered_digest_fails(self):
        q = next(q for q, v in self.expected.items() if v["check"] == "digest")
        tampered = copy.deepcopy(self.expected)
        tampered[q]["digest"] = "0" * 64
        e2e, _, failed, bad, _ = run.summarize(self.raw(self.checks), tampered)
        self.assertEqual(list(bad), [q])
        self.assertEqual(failed, 1)
        self.assertLess(e2e["ok_ratio"], 1.0)

    def test_rows_only_query_ignores_digest_but_not_row_count(self):
        q = next(q for q, v in self.expected.items() if v["check"] == "rows")
        checks = copy.deepcopy(self.checks)
        checks[q]["digest"] = "0" * 64
        self.assertEqual(run.check_results(checks, self.expected), {})
        checks[q]["rows"] += 1
        self.assertIn(q, run.check_results(checks, self.expected))

    def test_query_error_and_missing_check_fail(self):
        names = sorted(self.checks)
        checks = copy.deepcopy(self.checks)
        checks[names[0]] = {"error": "boom"}
        del checks[names[1]]
        bad = run.check_results(checks, self.expected)
        self.assertEqual(sorted(bad), names[:2])

    def test_failed_query_in_measured_phase_counts(self):
        raw = self.raw(self.checks)
        raw["untraced"]["samples"][0]["error"] = "java.lang.RuntimeException: x"
        _, _, failed, _, errors = run.summarize(raw, self.expected)
        self.assertEqual(failed, 1)
        self.assertEqual(len(errors), 1)


class Percentile(unittest.TestCase):
    def test_interpolated(self):
        self.assertAlmostEqual(run.percentile(list(range(1, 101)), 90), 90.1)
        self.assertAlmostEqual(run.percentile([4.0, 1.0, 3.0, 2.0], 90), 3.7)
        self.assertAlmostEqual(run.percentile([4.0, 1.0, 3.0, 2.0], 50), 2.5)
        self.assertEqual(run.percentile([5.0], 90), 5.0)
        self.assertIsNone(run.percentile([], 90))


class Helper(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        v = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, med, q3 = compare.quartiles(v)
        self.assertEqual((q1, med, q3), tuple(statistics.quantiles(v, n=4)))
        self.assertAlmostEqual(compare.spread(v), (q3 - q1) / med)

    def test_same_runs_compare_ok(self):
        base = run_set([10.0, 10.2, 9.9, 10.1, 10.0])
        rows = compare.compare(base, base, SPEC)
        self.assertTrue(all(v == "ok" for _, v, _ in rows), rows)

    def test_slower_median_beyond_bound_is_worse(self):
        base = run_set([10.0, 10.2, 9.9, 10.1, 10.0])
        new = run_set([11.5, 11.6, 11.4, 11.5, 11.7])
        verdicts = dict((n, v) for n, v, _ in compare.compare(base, new, SPEC))
        self.assertEqual(verdicts["wall_s"], "worse")
        self.assertEqual(verdicts["cores_used"], "ok")

    def test_higher_is_better_metric_direction(self):
        base = run_set([10.0] * 5, cores=[2.0] * 5)
        verdicts = dict((n, v) for n, v, _ in compare.compare(base, run_set([10.0] * 5, cores=[1.5] * 5), SPEC))
        self.assertEqual(verdicts["cores_used"], "worse")
        verdicts = dict((n, v) for n, v, _ in compare.compare(base, run_set([10.0] * 5, cores=[3.0] * 5), SPEC))
        self.assertEqual(verdicts["cores_used"], "ok")

    def test_wide_spread_is_unsteady(self):
        base = run_set([10.0] * 5, setups=[20.0, 30.0, 40.0, 25.0, 35.0])
        new = run_set([8.0, 10.0, 12.0, 9.0, 11.0], setups=[20.0, 30.0, 40.0, 25.0, 35.0])
        verdicts = dict((n, v) for n, v, _ in compare.compare(base, new, SPEC))
        self.assertEqual(verdicts["wall_s"], "unsteady")
        self.assertEqual(verdicts["setup_s"], "unsteady")
        self.assertEqual(verdicts["cores_used"], "ok")

    def test_incorrect_run_fails_compare(self):
        base = run_set([10.0] * 5)
        new = run_set([10.0] * 5)
        new[2]["result"]["correct"] = False
        new[2]["result"]["failed"] = 1
        rows = compare.compare(base, new, SPEC)
        self.assertIn("incorrect", [v for _, v, _ in rows])

    def test_stats_and_compare_commands(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a.jsonl"), os.path.join(d, "b.jsonl")
            for path, walls in ((a, [10.0, 10.1, 9.9, 10.0]), (b, [13.0, 13.1, 12.9, 13.0])):
                with open(path, "w") as f:
                    f.writelines(json.dumps(r) + "\n" for r in run_set(walls))
            load_spec, compare.load_spec = compare.load_spec, lambda: SPEC
            try:
                self.assertEqual(compare.main(["stats", a]), 0)
                self.assertEqual(compare.main(["compare", a, a]), 0)
                self.assertEqual(compare.main(["compare", a, b]), 1)
            finally:
                compare.load_spec = load_spec


if __name__ == "__main__":
    unittest.main()
