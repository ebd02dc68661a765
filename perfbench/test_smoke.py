#!/usr/bin/env python3
"""Smoke test of the pipeline benchmark: every workload at a tiny size,
untraced and traced, through run.py as the benchmark harness calls it.

    python3 perfbench/test_smoke.py

Each run must print a result line that names exactly the metrics of
BENCHMARK.json for its mode, and leave /tmp as it found it.
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

_runs = {}


def run(workload, trace, *extra):
    """One smoke run per workload, mode and extra flags, shared by the tests."""
    key = (workload, trace) + extra
    if key not in _runs:
        before = set(os.listdir("/tmp"))
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
             *extra],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        _runs[key] = (p, set(os.listdir("/tmp")) - before)
    return _runs[key]


class Smoke(unittest.TestCase):
    def shape(self, workload, trace):
        p, new_tmp = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
        self.assertEqual(set(result["metrics"]), set(wanted))
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], wanted[name], name)
            self.assertTrue(math.isfinite(m["value"]), name)
        if not trace:
            for name, m in result["metrics"].items():
                self.assertGreater(m["value"], 0, name)
        self.assertEqual(new_tmp, set(), "run left entries in /tmp")
        return result

    def test_logs_ingest(self):
        self.shape("logs_ingest", 0)

    def test_logs_ingest_traced(self):
        m = self.shape("logs_ingest", 1)["metrics"]
        self.assertGreater(m["streaming.maillog.s"]["value"], 0)
        self.assertGreater(m["parse.apache.s"]["value"], 0)
        self.assertGreater(m["render.build.s"]["value"], 0)
        self.assertGreater(m["compaction.compact.s"]["value"], 0)

    def test_learn_gate(self):
        self.shape("learn_gate", 0)

    def test_learn_gate_traced(self):
        m = self.shape("learn_gate", 1)["metrics"]
        self.assertGreater(m["streaming.gate.s"]["value"], 0)
        self.assertGreater(m["ops.judge.s"]["value"], 0)

    def test_traced_self_times_sum_to_op(self):
        for workload in ("logs_ingest", "learn_gate"):
            m = self.shape(workload, 1)["metrics"]
            parts = sum(v["value"] for k, v in m.items()
                        if k.startswith("self.") or k == "unattributed.s")
            self.assertAlmostEqual(parts, m["trace.op_mean_s"]["value"], places=6)

    def test_learn_gate_correct(self):
        p, _ = run("learn_gate", 0)
        self.assertTrue(json.loads(p.stdout.strip().splitlines()[-1])["correct"],
                        p.stderr[-3000:])

    def test_logs_ingest_correct(self):
        p, _ = run("logs_ingest", 0)
        self.assertTrue(json.loads(p.stdout.strip().splitlines()[-1])["correct"],
                        p.stderr[-3000:])

    # Fails at the time of writing, which is why the benchmark plants malformed
    # lines in the apache feed only: the apache and authfail feeds both number
    # their micro-batches from 0, and Ingest.appendDeadLetters replaces the
    # dead_letters/batch_id=N directory wholesale, so the authfail feed's dead
    # letters delete the apache feed's for the same tick.
    @unittest.expectedFailure
    def test_logs_ingest_correct_with_malformed_authfail(self):
        p, _ = run("logs_ingest", 0, "--malformed-authfail")
        self.assertTrue(json.loads(p.stdout.strip().splitlines()[-1])["correct"],
                        p.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
