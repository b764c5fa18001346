#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a graft checkout:

    python3 perfbench/test_perfbench.py

The JVM-side checks (canonical hash, percentile choice, failed output
checks) live in graft.perfbench.SelfTest; this file builds and runs it,
and checks BENCHMARK.json and the result line.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ROOT = os.getcwd()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.spec = run.metric_spec(ROOT)

    def test_keys(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})

    def test_metric_names(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.spec[k]]
        for n in names:
            self.assertRegex(n, NAME)
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
        self.assertEqual(len(names), len(set(names)), "a name is used twice")
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        for m in e2e.values():
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))


class ResultLine(unittest.TestCase):
    spec = {"end_to_end": [{"name": "op_s_p50", "unit": "s"}],
            "per_layer": [{"name": "solvers.lane_s", "unit": "s"}]}

    def test_failed_check_is_not_correct(self):
        ok = run.result_line(self.spec, {"attempted": 4, "failed": 0, "values": {"op_s_p50": 1.5}}, False)
        self.assertTrue(ok["correct"])
        self.assertEqual(ok["metrics"], {"op_s_p50": {"value": 1.5, "unit": "s"}})
        bad = run.result_line(self.spec, {"attempted": 4, "failed": 1, "values": {"op_s_p50": 1.5}}, False)
        self.assertFalse(bad["correct"])

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(run.BenchError):
            run.result_line(self.spec, {"attempted": 1, "failed": 0, "values": {"op_s_p50": None}}, False)
        with self.assertRaises(run.BenchError):
            run.result_line(self.spec, {"attempted": 1, "failed": 0, "values": {"op_s_p50": 1.0}}, True)


class WithoutProgram(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        d = os.path.join(ROOT, ".bench_work", "no-program")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(run.HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pv_fleet_hourly",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=170)
        shutil.rmtree(d, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        classes, jars = run.build(ROOT)
        work = os.path.join(ROOT, ".bench_work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = run.run_jvm(run.java_cmd(ROOT, classes, jars, "graft.perfbench.SelfTest", [], work),
                          os.path.join(work, "jvm.log"), run.RUN_TIMEOUT_S)
        lines = out.strip().splitlines()
        sys.stderr.write("\n".join(lines[:-1]) + "\n")
        self.assertFalse([l for l in lines if l.startswith("FAIL")])
        per_layer = json.loads(lines[-1])
        self.assertEqual(per_layer, [m["name"] for m in run.metric_spec(ROOT)["per_layer"]])


if __name__ == "__main__":
    unittest.main()
