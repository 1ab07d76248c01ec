"""Unit tests of run.py's result handling: python3 -m unittest test_run
(run from perfbench/; `python3 perfbench/run.py --self-test` runs them)."""
import json
import unittest

import run

WANTED = {"setup_s": "s", "pass_s": "s"}


def result(**metrics):
    return {"correct": True, "attempted": 12, "failed": 0, "diag": {"x": 1},
            "metrics": {k: {"value": v, "unit": WANTED[k]} for k, v in metrics.items()}}


class ResultLine(unittest.TestCase):
    def test_exact_keys_and_values(self):
        line = run.result_line(result(setup_s=5.25, pass_s=3.125), WANTED)
        out = json.loads(line)
        self.assertEqual(list(out), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(out["metrics"]["pass_s"], {"value": 3.125, "unit": "s"})
        self.assertEqual((out["attempted"], out["failed"]), (12, 0))
        self.assertNotIn("\n", line)

    def test_missing_metric_is_refused(self):
        with self.assertRaises(run.BenchError):
            run.result_line(result(setup_s=5.0), WANTED)

    def test_unexpected_metric_is_refused(self):
        r = result(setup_s=5.0, pass_s=1.0)
        r["metrics"]["extra"] = {"value": 1.0, "unit": "s"}
        with self.assertRaises(run.BenchError):
            run.result_line(r, WANTED)

    def test_non_number_is_refused(self):
        for bad in (None, float("nan"), "1.0", True):
            r = result(setup_s=5.0, pass_s=1.0)
            r["metrics"]["pass_s"]["value"] = bad
            with self.assertRaises(run.BenchError, msg=repr(bad)):
                run.result_line(r, WANTED)

    def test_wrong_unit_is_refused(self):
        r = result(setup_s=5.0, pass_s=1.0)
        r["metrics"]["pass_s"]["unit"] = "ms"
        with self.assertRaises(run.BenchError):
            run.result_line(r, WANTED)

    def test_no_attempt_is_refused(self):
        r = result(setup_s=5.0, pass_s=1.0)
        r["attempted"] = 0
        with self.assertRaises(run.BenchError):
            run.result_line(r, WANTED)

    def test_metric_names_come_from_benchmark_json(self):
        e2e = run.expected_metrics(False)
        self.assertIn("setup_s", e2e)
        self.assertEqual(e2e["setup_s"], "s")
        self.assertTrue(set(run.expected_metrics(True)).isdisjoint(e2e))


if __name__ == "__main__":
    unittest.main()
