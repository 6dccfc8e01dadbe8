#!/usr/bin/env python3
"""The benchmark's own tests: smoke runs of every workload on tiny
corpora, a traced run, three deliberately wrong results the output checks
must flag, and the refusal to run without the program's sources.

Run from the repository root:  python3 perfbench/test_perfbench.py
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace=0, fault=None, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "3",
                             "--trace", str(trace), "--scale", "smoke"]
    if fault:
        cmd += ["--fault", fault]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc):
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    return out, lines


class Smoke(unittest.TestCase):

    def check_metrics(self, out, lines, declared):
        for m in declared:
            self.assertIn(m["name"], out["metrics"])
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
            self.assertTrue(any(l.split()[:2] == ["metric", m["name"]] and l.split()[-1] == m["unit"]
                                for l in lines), m["name"])
        self.assertEqual(set(out["metrics"]), {m["name"] for m in declared})

    def test_every_workload_prints_its_metrics_with_zero_errors(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                out, lines = result(run(w["name"]))
                self.check_metrics(out, lines, SPEC["end_to_end"])
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertGreaterEqual(out["attempted"], 1)
                self.assertIn("metric error_rate 0.000000 ratio", " ".join(" ".join(lines).split()))
                self.assertGreater(out["metrics"]["setup_s"]["value"], 0)

    def test_traced_run_prints_the_per_layer_metrics(self):
        out, lines = result(run("search_warm", trace=1))
        self.check_metrics(out, lines, SPEC["per_layer"])
        self.assertTrue(out["correct"])
        self.assertTrue(any(l.startswith("metric VectorSearch.topKText.plan_ms") for l in lines))

    def test_swapped_ids_are_flagged(self):
        out, lines = result(run("search_warm", fault="swap"))
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertTrue(any(l.startswith("# FAILED") for l in lines))

    def test_a_dropped_append_is_flagged(self):
        out, lines = result(run("ann_ingest", fault="drop-append"))
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertTrue(any("acknowledged append" in l for l in lines if l.startswith("# FAILED")))

    def test_a_dropped_cluster_row_is_flagged(self):
        out, lines = result(run("curate_batch", fault="drop-cluster"))
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertTrue(any("Dedup.dedupClusters" in l for l in lines if l.startswith("# FAILED")))

    def test_refuses_to_run_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            proc = run(SPEC["workloads"][0]["name"], cwd=d)
            self.assertNotEqual(proc.returncode, 0)
            for line in proc.stdout.splitlines():
                self.assertFalse(line.startswith("{"), line)


if __name__ == "__main__":
    unittest.main(verbosity=2)
