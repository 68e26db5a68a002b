"""Tests of the benchmark's own code.

  python3 -m unittest discover -s perfbench/tests -v      (from the repository root)

The Scala self-test and the end-to-end tests build the program first
(perfbench/build.py). The negative control runs one short
languages-htmldir-out run, about a minute on a 4-core host.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)
import build  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def harness(*args, tmp):
    cp = build.build()
    return subprocess.run([build.java()] + run.jvm_options(tmp) + ["-cp", cp, "perfbench.Harness"] + list(args),
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


class ContractTest(unittest.TestCase):
    """BENCHMARK.json against the limits its format sets."""

    def test_keys_and_limits(self):
        self.assertLessEqual(os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")), 64 * 1024)
        b = benchmark_json()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertTrue(1 <= len(b["paths"]) <= 16)
        for p in b["paths"]:
            self.assertRegex(p, PATH)
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))
            for d, _, fs in os.walk(os.path.join(ROOT, p)):
                for f in fs:
                    self.assertFalse(os.path.islink(os.path.join(d, f)), os.path.join(d, f))
        self.assertTrue(1 <= len(b["command"]) <= 32)
        for c in b["command"]:
            self.assertLessEqual(len(c), 200)
            self.assertFalse(c.startswith("/") or ".." in c.split("/"))
            if os.path.exists(os.path.join(ROOT, c)):  # a repo file: must be the benchmark's own
                self.assertTrue(any(c == p or c.startswith(p.rstrip("/") + "/") for p in b["paths"]), c)
        self.assertIsInstance(b["run_seconds"], int)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        self.assertTrue(1 <= len(b["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        names = [w["name"] for w in b["workloads"]]
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
            names.append(m["name"])
        self.assertEqual(len(names), len(set(names)), "a name is used twice")

    def test_setup_metric_has_the_largest_bound(self):
        e2e = {m["name"]: m for m in benchmark_json()["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_workloads_are_the_runner_choices(self):
        self.assertEqual([w["name"] for w in benchmark_json()["workloads"]], list(run.WORKLOADS))


class ResultLineTest(unittest.TestCase):
    def result(self, **kw):
        r = {"correct": True, "attempted": 3, "failed": 0,
             "metrics": {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in benchmark_json()["end_to_end"]}}
        r.update(kw)
        return r

    def test_accepts_a_complete_result(self):
        self.assertTrue(run.valid_result(self.result(), trace=False))

    def test_rejects_malformed_results(self):
        self.assertFalse(run.valid_result(self.result(attempted=0), trace=False))
        self.assertFalse(run.valid_result(self.result(correct=1), trace=False))
        self.assertFalse(run.valid_result(self.result(failed=0.5), trace=False))
        self.assertFalse(run.valid_result(self.result(), trace=True))  # per-layer metrics missing
        r = self.result()
        del r["metrics"]["setup_s"]
        self.assertFalse(run.valid_result(r, trace=False))
        r = self.result()
        r["extra"] = 1
        self.assertFalse(run.valid_result(r, trace=False))


class SpreadTest(unittest.TestCase):
    def test_interquartile_share_of_the_median(self):
        # statistics.quantiles (exclusive method) of 1..10: q1 = 2.75, q3 = 8.25; median 5.5
        self.assertAlmostEqual(spread.spread([float(x) for x in range(10, 0, -1)]), 1.0)
        self.assertEqual(spread.spread([2.0] * 5), 0.0)


class ScalaSelfTest(unittest.TestCase):
    """Span self-time arithmetic, drain determinism, digests."""

    def test_selftest(self):
        with tempfile.TemporaryDirectory() as tmp:
            p = harness("--mode", "selftest", tmp=tmp)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertIn("selftest: all checks passed", p.stdout)


class EndToEndTest(unittest.TestCase):
    def run_bench(self, cwd, *extra):
        return subprocess.run([sys.executable, "perfbench/run.py", "--workload", "languages-htmldir-out",
                               "--seed", "1", "--seconds", "1", "--trace", "0"] + list(extra),
                              cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=200)

    def test_negative_control_counts_mutated_outputs_as_failures(self):
        p = self.run_bench(ROOT, "--mutate", "1")
        self.assertEqual(p.returncode, 0)
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 4)  # the cold job, the warm-up job and >= 3 measured jobs
        self.assertLess(r["failed"], r["attempted"])  # checks that do not read a job's output still pass

    def test_refuses_to_run_without_the_program(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            for p in benchmark_json()["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(tmp, p))
            r = self.run_bench(tmp)
        self.assertNotEqual(r.returncode, 0)
        self.assertFalse(any(line.startswith("{") for line in r.stdout.splitlines()))


if __name__ == "__main__":
    unittest.main()
