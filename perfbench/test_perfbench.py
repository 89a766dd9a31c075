#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

The last three tests build the harness (once per checkout) and start JVMs;
they take a few minutes.
"""
import json
import os
import random
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import run  # noqa: E402

SPEC = run.load_spec()


def fake_result(trace):
    res = {"setup_s": [9.0, 3.1, 3.3], "samples_ms": [float(x) for x in range(100, 130)],
           "units": 30, "window_s": 4.2, "retained_heap_mb": 90.5}
    if trace:
        res["traced_samples_ms"] = [float(x) for x in range(101, 131)]
        res["layers"] = {"plan.ms": 12.5, "ask.jobs": 4.0}
    return res


class SpecTest(unittest.TestCase):
    def test_contract_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        budget = (4 + 22 * len(SPEC["workloads"])) * SPEC["run_seconds"]
        self.assertLess(budget, 3420)


class MetricsTest(unittest.TestCase):
    def test_untraced_run_reports_exactly_the_end_to_end_metrics(self):
        m = run.metrics(SPEC, fake_result(0), 0)
        self.assertEqual(list(m), [x["name"] for x in SPEC["end_to_end"]])
        for x in SPEC["end_to_end"]:
            self.assertEqual(m[x["name"]]["unit"], x["unit"])
        self.assertEqual(m["setup_s"]["value"], 3.3)
        self.assertEqual(m["op_p50_ms"]["value"], 114.5)

    def test_traced_run_reports_exactly_the_per_layer_metrics(self):
        m = run.metrics(SPEC, fake_result(1), 1)
        self.assertEqual(list(m), [x["name"] for x in SPEC["per_layer"]])
        for x in SPEC["per_layer"]:
            self.assertEqual(m[x["name"]]["unit"], x["unit"])
        self.assertEqual(m["ask.jobs"]["value"], 4.0)
        self.assertAlmostEqual(m["trace.overhead_pct"]["value"], 100 * 1 / 114.5)

    def test_undeclared_metric_is_refused(self):
        res = fake_result(1)
        res["layers"]["made.up"] = 1.0
        with self.assertRaises(SystemExit):
            run.metrics(SPEC, res, 1)


class PercentileTest(unittest.TestCase):
    def beyond(self, samples, v):
        return sum(1 for x in samples if x > v)

    def test_known_cases(self):
        self.assertEqual(run.tail_percentile(list(range(1, 101)))[0], 90)
        self.assertEqual(run.tail_percentile(list(range(1, 51)))[0], 75)
        self.assertIsNone(run.tail_percentile(list(range(1, 16))))
        self.assertIsNone(run.tail_percentile([]))

    def test_highest_percentile_with_ten_samples_beyond(self):
        rng = random.Random(7)
        for _ in range(200):
            s = [rng.lognormvariate(0, 0.5) for _ in range(rng.randint(1, 300))]
            got = run.tail_percentile(s)
            for p in run.TAIL_PERCENTILES:
                v = run.statistics.quantiles(sorted(s), n=100, method="inclusive")[p - 1] \
                    if len(s) >= 2 else None
                ok = v is not None and self.beyond(s, v) >= 10
                if got and p > got[0]:
                    self.assertFalse(ok, "a higher percentile also had ten samples beyond it")
                if got and p == got[0]:
                    self.assertTrue(ok)
                    break
            if got is None and len(s) >= 2:
                v50 = run.statistics.quantiles(sorted(s), n=100, method="inclusive")[49]
                self.assertLess(self.beyond(s, v50), 10)


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        steady = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        self.assertEqual(compare.verdict(steady, [x * 1.01 for x in steady], "lower", 0.1)["verdict"], "pass")
        self.assertEqual(compare.verdict(steady, [x * 1.3 for x in steady], "lower", 0.1)["verdict"], "regressed")
        self.assertEqual(compare.verdict(steady, [x * 0.8 for x in steady], "lower", 0.1)["verdict"], "improved")
        self.assertEqual(compare.verdict(steady, [x * 0.8 for x in steady], "higher", 0.1)["verdict"], "regressed")
        noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        self.assertEqual(compare.verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1)["verdict"], "unresolved")
        self.assertEqual(compare.verdict(noisy, [10] * 10, "lower", 0.1)["verdict"], "improved")

    def test_one_summary_row_per_workload(self):
        def runs(scale):
            return {w["name"]: [{"failed": 0, "metrics": {m["name"]: {"value": scale * (100 + i % 3)}
                                                          for m in SPEC["end_to_end"]}}
                                for i in range(10)] for w in SPEC["workloads"]}
        rows, summary = compare.compare(SPEC, runs(1.0), runs(1.0))
        self.assertEqual(list(summary), [w["name"] for w in SPEC["workloads"]])
        self.assertEqual(len(rows), len(SPEC["workloads"]) * len(SPEC["end_to_end"]))
        self.assertTrue(all(s == "pass" for s in summary.values()))


class HarnessTest(unittest.TestCase):
    """Builds the harness and starts JVMs."""

    def test_seed_determines_inputs(self):
        for w in SPEC["workloads"]:
            a = run.input_digest(w["name"], 1)
            self.assertEqual(a, run.input_digest(w["name"], 1), w["name"])
            self.assertNotEqual(a, run.input_digest(w["name"], 2), w["name"])

    def test_run_prints_declared_metrics(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "ask",
                                "--seed", "3", "--seconds", "1", "--trace", str(trace)],
                               capture_output=True, text=True, timeout=300)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            last = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(last["correct"])
            self.assertEqual(last["failed"], 0)
            self.assertEqual({k: v["unit"] for k, v in last["metrics"].items()},
                             {m["name"]: m["unit"] for m in SPEC[key]})

    def test_refuses_to_run_without_the_program(self):
        bare = os.path.join(run.ROOT, ".bench_runs", f"bare-{os.getpid()}")
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.makedirs(bare)
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ask", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True,
                               text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
