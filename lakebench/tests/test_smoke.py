"""Smoke self-test of the lake benchmark at sf0.001 (ten replicas of
sf0.001, one timed pass per workload).

    python3 lakebench/tests/test_smoke.py

For every workload it runs the benchmark untraced and traced. It checks
that every metric BENCHMARK.json names appears with its unit and that all
output checks pass. Run it from the repository root.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    cmd = [sys.executable, os.path.join(ROOT, "lakebench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace, wanted):
        r = run(workload, trace)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0, r)
        self.assertGreaterEqual(r["attempted"], 1)
        for m in wanted:
            self.assertIn(m["name"], r["metrics"], f"{workload} trace={trace}")
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(r["metrics"][m["name"]]["value"], (int, float), m["name"])
        self.assertEqual(set(r["metrics"]), {m["name"] for m in wanted})
        return r["metrics"]

    def test_workloads(self):
        # point_frag is not in BENCHMARK.json (see README.md) but stays runnable
        for w in [x["name"] for x in SPEC["workloads"]] + ["point_frag"]:
            with self.subTest(workload=w):
                e2e = self.check(w, 0, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(e2e[m["name"]]["value"], 0, m["name"])
                layer = self.check(w, 1, SPEC["per_layer"])
                # the catalog shim saw the lake's statements
                self.assertGreater(layer["catalog.setup_stmts"]["value"], 0)
                self.assertGreater(layer["exec.tasks"]["value"], 0)
                if w in ("write_mix", "point_frag"):
                    self.assertGreater(layer["defect.probes"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
