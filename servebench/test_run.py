"""Tests for the output parser of run.py: python3 servebench/test_run.py"""
import json
import unittest

import run

GOOD = {"correct": True, "attempted": 10, "failed": 0,
        "metrics": {"setup_s": {"value": 2.5, "unit": "s", "n": 3},
                    "ops_per_s": {"value": 4.25, "unit": "1/s", "n": 10},
                    "error_rate": {"value": 0.0, "unit": "ratio", "n": 10}},
        "info": {"canary_start_s": 0.25}}


def out(obj, noise="Spark says hello\n"):
    return noise + run.RESULT_PREFIX + json.dumps(obj) + "\n"


class ParseTest(unittest.TestCase):
    def test_reads_the_last_result_line(self):
        older = dict(GOOD, attempted=1)
        res = run.parse_result(out(older) + out(GOOD))
        self.assertEqual(res["attempted"], 10)
        self.assertEqual(res["metrics"]["ops_per_s"]["value"], 4.25)

    def test_rejects_missing_or_malformed_results(self):
        for bad in ["no result here\n",
                    out({k: v for k, v in GOOD.items() if k != "correct"}),
                    out(dict(GOOD, failed=-1)),
                    out(dict(GOOD, attempted=True)),
                    out(dict(GOOD, metrics={})),
                    out(dict(GOOD, metrics={"x": {"unit": "s"}}))]:
            with self.assertRaises(ValueError):
                run.parse_result(bad)

    def test_contract_line_keeps_declared_metrics_only(self):
        line = json.loads(run.contract_line(run.parse_result(out(GOOD)), ["setup_s", "ops_per_s"]))
        self.assertEqual(list(line), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(line["metrics"], {"setup_s": {"value": 2.5, "unit": "s"},
                                           "ops_per_s": {"value": 4.25, "unit": "1/s"}})
        self.assertTrue(line["correct"])

    def test_contract_line_fails_on_a_missing_metric(self):
        with self.assertRaises(ValueError):
            run.contract_line(run.parse_result(out(GOOD)), ["setup_s", "heap_mb"])


if __name__ == "__main__":
    unittest.main()
