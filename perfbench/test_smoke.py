#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, untraced and traced, one
round each. Asserts that each run passes its output checks and prints every
metric BENCHMARK.json declares, by name and unit, and that a directory
holding only the benchmark (no program sources) fails without a result.

    python3 perfbench/test_smoke.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, *args):
    return subprocess.run([*SPEC["command"], *args], cwd=cwd, capture_output=True,
                          text=True, timeout=900)


class Smoke(unittest.TestCase):

    def check_mode(self, trace, declared):
        p = run(ROOT, "--workload", "all", "--seed", "1", "--seconds", "1", "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for w in (w["name"] for w in SPEC["workloads"]):
            for m in declared:
                got = result["metrics"].get(f"{w}.{m['name']}")
                self.assertIsNotNone(got, f"{w} did not report {m['name']}")
                self.assertEqual(got["unit"], m["unit"], m["name"])
                self.assertIn(f"   {w} {m['name']} = ", p.stdout)
            self.assertIn(f"   {w} health ", p.stdout)
        self.assertNotIn("MISMATCH", p.stdout)

    def test_end_to_end(self):
        self.check_mode(0, SPEC["end_to_end"])

    def test_per_layer(self):
        self.check_mode(1, SPEC["per_layer"])

    def test_without_program_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for d in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, d), os.path.join(bare, d))
        p = run(bare, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0")
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse(p.stdout.strip().startswith("{"), p.stdout)


if __name__ == "__main__":
    sys.exit(unittest.main())
