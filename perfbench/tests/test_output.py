#!/usr/bin/env python3
"""Checks of the benchmark's output, run from the root of the repository:

    python3 -m unittest discover -s perfbench/tests -v

Runs every workload in BENCHMARK.json once untraced and twice traced with
one seed, and checks for each that
- every end-to-end and per-layer metric named in BENCHMARK.json is printed,
  as a line "name value unit" and in the closing JSON object, with its unit;
- every result was correct and no call failed;
- in the traced run, each call's build, plan and exec phases sum to its
  latency within PHASE_GAP_S, and every Spark job was attributed;
- the exact counters are identical between the two traced runs.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 7
# Per call, latency minus its three phases: the job-group bookkeeping
# between phases, well under a millisecond when nothing is wrong.
PHASE_GAP_S = 0.005

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", str(SEED),
                              "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
    assert out.returncode == 0, f"{workload}: exit {out.returncode}"
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def info(lines, key):
    """The text of a "# key: text" line."""
    for line in lines:
        if line.startswith(f"# {key}:"):
            return line.split(":", 1)[1].strip()
    return None


class OutputSchema(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.runs = {}
        for w in BENCH["workloads"]:
            name = w["name"]
            cls.runs[name] = (run(name, 0), run(name, 1), run(name, 1))

    def check_metrics(self, specs, lines, result):
        printed = {l.split()[0]: l.split() for l in lines[:-1]
                   if len(l.split()) == 3 and not l.startswith("#")}
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertIn(m["name"], printed)
            self.assertEqual(printed[m["name"]][2], m["unit"], m["name"])
            self.assertEqual(float(printed[m["name"]][1]), got["value"])

    def test_end_to_end_metrics_printed_with_units(self):
        for w, ((lines, result), _, _) in self.runs.items():
            with self.subTest(workload=w):
                self.check_metrics(BENCH["end_to_end"], lines, result)
                for m in BENCH["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"],
                                       0, m["name"])

    def test_per_layer_metrics_printed_with_units(self):
        for w, (_, (lines, result), _) in self.runs.items():
            with self.subTest(workload=w):
                self.check_metrics(BENCH["per_layer"], lines, result)

    def test_phases_sum_to_call_latency(self):
        for w, (_, (lines, result), _) in self.runs.items():
            with self.subTest(workload=w):
                gap = float(info(lines, "phase_gap_max_s").split()[0])
                self.assertGreaterEqual(gap, 0.0)
                self.assertLessEqual(gap, PHASE_GAP_S)
                self.assertEqual(
                    result["metrics"]["trace.unattributed_jobs"]["value"], 0)

    def test_exact_counters_repeat(self):
        for w, (_, (lines, first), (_, second)) in self.runs.items():
            names = info(lines, "exact_counters").split()
            self.assertTrue(names)
            for n in names:
                with self.subTest(workload=w, counter=n):
                    self.assertEqual(first["metrics"][n]["value"],
                                     second["metrics"][n]["value"])


if __name__ == "__main__":
    unittest.main()
