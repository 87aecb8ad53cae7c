#!/usr/bin/env python3
"""Self-test of the benchmark: python3 perfbench/test_perfbench.py

Checks BENCHMARK.json against its contract and the registry, that a query
which throws and a query which returns a wrong row (both injected through
the runner, not the registry) raise the failure count and leave no
latency sample, and the A/B verdict rule."""
import json
import os
import re
import statistics
import unittest

import ab
import run
from fingerprint import fingerprint

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))

    def test_shape(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertLessEqual(len(b["end_to_end"]), 16)
        self.assertLessEqual(len(b["per_layer"]), 128)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in b["end_to_end"])}])

    def test_workloads_exist_in_registry(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.CONF["workloads"]))
        catalog = run.run_jvm(run.classpath(), ["--mode", "catalog"], "catalog")
        expected = json.load(open(run.EXPECTED))["queries"]
        for w, conf in run.CONF["workloads"].items():
            for q in conf["queries"]:
                self.assertIn(q, catalog["queries"], "%s lists %s" % (w, q))
                self.assertIn(q, expected)


class InjectedFailures(unittest.TestCase):
    def test_failures_count_and_leave_no_sample(self):
        good = {"fingerprint": fingerprint(["id"], [[0], [1], [2]])}
        expected = {"perfbench.wrong_row": good, "perfbench.right_rows": good}
        rec = run.measure("selftest", 1, 1, False, queries=[], inject=True)
        failures = run.check(rec, expected, False)
        self.assertEqual(len(rec["executions"]), 6)  # 3 queries x (cold + 1 warm)
        self.assertEqual(len(failures), 4)
        self.assertTrue(all(f.startswith(("perfbench.throws", "perfbench.wrong_row"))
                            for f in failures))
        metrics, notes = run.end_to_end(rec)
        self.assertEqual(notes["warm_samples"], 1)  # only the control query
        control = [e["latency_s"] for e in rec["executions"]
                   if e["query"] == "perfbench.right_rows" and e["pass"] == 1]
        self.assertEqual(notes["query_p50_s"], control[0])


class Verdict(unittest.TestCase):
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_improved(self):
        self.assertEqual(ab.verdict(self.base, [x * 0.8 for x in self.base], 0.1)[0], "improved")

    def test_no_worse(self):
        self.assertEqual(ab.verdict(self.base, [x * 1.03 for x in self.base], 0.1)[0], "no worse")

    def test_worse(self):
        self.assertEqual(ab.verdict(self.base, [x * 1.3 for x in self.base], 0.1)[0], "worse")

    def test_unresolved_when_base_spread_exceeds_bound(self):
        wide = [5.0, 15.0] * 5
        self.assertEqual(ab.verdict(wide, [x * 1.05 for x in wide], 0.1)[0], "unresolved")

    def test_more_failures_is_worse_even_when_faster(self):
        faster = [x * 0.5 for x in self.base]
        self.assertEqual(ab.verdict(self.base, faster, 0.1, failed_base=0, failed_change=3)[0],
                         "worse")
        self.assertEqual(ab.verdict(self.base, faster, 0.1, failed_base=3, failed_change=3)[0],
                         "improved")

    def test_higher_is_better(self):
        self.assertEqual(ab.verdict(self.base, [x * 1.3 for x in self.base], 0.1, "higher")[0],
                         "improved")


if __name__ == "__main__":
    unittest.main()
