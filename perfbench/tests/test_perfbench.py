"""The benchmark's own tests: tiny runs of each workload.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. Each tiny run (--seconds 1) checks that the
printed metric names and units are exactly those BENCHMARK.json defines,
and each correctness check is shown to reject a deliberately corrupted
result.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run(*args):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"run {args} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def tiny(workload, trace=0, *extra):
    return run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        names = [w["name"] for w in SPEC["workloads"]] + \
            [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


class WorkloadTest(unittest.TestCase):
    def assert_matches_spec(self, result, section):
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)

    def check_workload(self, workload, corruption):
        plain = tiny(workload)
        self.assert_matches_spec(plain, "end_to_end")
        self.assertTrue(plain["correct"])
        self.assertEqual(plain["failed"], 0)
        for k in ("setup_s", "rows_per_cpu_s"):
            self.assertGreater(plain["metrics"][k]["value"], 0)
        traced = tiny(workload, 1)
        self.assert_matches_spec(traced, "per_layer")
        self.assertTrue(traced["correct"])
        bad = tiny(workload, 0, "--corrupt", corruption)
        self.assertFalse(bad["correct"])
        self.assertGreaterEqual(bad["failed"], 1)

    def test_article_stream(self):
        # a dropped window row must fail the batch-twin check
        self.check_workload("article_stream", "drop-window-row")

    def test_snapshot_ingest(self):
        # a skipped append must fail the serve and final-generation checks
        self.check_workload("snapshot_ingest", "skip-append")

    def test_refuses_to_run_without_the_engine(self):
        # alone with its own files the launcher fails fast and prints no result
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", "out", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "article_stream",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
