#!/usr/bin/env python3
"""Tests of the benchmark itself, at the tiny `smoke` size.

    python3 perfbench/test_bench.py

Each workload runs end to end, untraced and traced, and must report every
metric BENCHMARK.json names with all output checks passing; each output
check must fail on a deliberately corrupted output; and the benchmark must
refuse to run without the engine sources.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args, cwd=ROOT, script=RUN):
    return subprocess.run([sys.executable, script] + list(args), cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def result(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class SmokeRuns(unittest.TestCase):

    def check_run(self, workload, trace, names):
        p = bench("--workload", workload, "--seed", "5", "--seconds", "1",
                  "--trace", str(trace), "--size", "smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = result(p)
        self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(r["correct"], p.stdout)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(sorted(r["metrics"]), sorted(names))
        for name, m in r["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        return r

    def test_untraced_runs_report_end_to_end_metrics(self):
        names = [m["name"] for m in SPEC["end_to_end"]]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = self.check_run(w, 0, names)
                self.assertGreater(r["metrics"]["mcells_per_s"]["value"], 0)

    def test_traced_runs_report_per_layer_metrics(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        steps = {"tile_pipeline": "codecs.decode", "dem_hydrology": "flow.fill",
                 "tile_ingest": "icelite.commit"}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = self.check_run(w, 1, names)
                self.assertGreater(r["metrics"][steps[w] + ".wall_s"]["value"], 0)
                self.assertGreater(r["metrics"][steps[w] + ".jobs"]["value"], 0)
                self.assertGreater(r["metrics"]["trace.overhead_ratio"]["value"], 0)


class Checks(unittest.TestCase):

    def test_every_check_fails_on_a_corrupted_output(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p = bench("--workload", w, "--seed", "5", "--size", "smoke", "--selftest")
                self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
                self.assertEqual(result(p)["missed"], [])


class Packaging(unittest.TestCase):

    def test_refuses_to_run_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=bare, script=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
