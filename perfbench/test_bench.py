"""The benchmark's own tests.

    python3 perfbench/test_bench.py        # from the root of a checkout

They run the benchmark itself (a few short JVM runs, about four
minutes, at the benchmark's fixed scale and set-up) and check that
- the same seed gives the same op sequence and inputs, and another seed
  a different one;
- a run prints every metric named in BENCHMARK.json with its unit, on
  the summary lines and in the final JSON line;
- a deliberately corrupted answer is counted as a failed op.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def run(*args):
    r = subprocess.run(RUN + list(args), cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=300)
    return r.returncode, r.stdout.splitlines()


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tagged(lines, tag):
    return [l[len(tag) + 1:] for l in lines if l.startswith(tag + " ")]


class SeedDeterminism(unittest.TestCase):
    def plan(self, workload, seed):
        rc, out = run("--workload", workload, "--seed", str(seed), "--plan-only")
        self.assertEqual(rc, 0)
        return tagged(out, "plan") + tagged(out, "inputs")

    def test_op_sequence(self):
        for w in ("serve-warm", "lifecycle-rw"):
            with self.subTest(workload=w):
                a, b, c = self.plan(w, 7), self.plan(w, 7), self.plan(w, 8)
                self.assertTrue(a)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_generated_tables(self):
        def inputs(seed):
            rc, out = run("--workload", "serve-warm", "--seed", str(seed), "--gen-only")
            self.assertEqual(rc, 0)
            return tagged(out, "inputs")
        a, b, c = inputs(7), inputs(7), inputs(8)
        self.assertTrue(a)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class Summary(unittest.TestCase):
    def short_run(self, trace, *extra):
        return run("--workload", "lifecycle-rw", "--seed", "5", "--seconds", "1",
                   "--trace", str(trace), *extra)

    def check_metrics(self, trace, kind):
        rc, out = self.short_run(trace)
        self.assertEqual(rc, 0)
        result = json.loads(out[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        printed = {l.split()[0]: l.split()[2] for l in tagged(out, "metric" if trace == 0 else "layer")}
        for m in spec()[kind]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], (int, float))
            self.assertEqual(printed.get(m["name"]), m["unit"], m["name"])
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec()[kind]})

    def test_end_to_end_metrics(self):
        self.check_metrics(0, "end_to_end")

    def test_per_layer_metrics(self):
        self.check_metrics(1, "per_layer")

    def test_corrupted_answers_fail(self):
        rc, out = self.short_run(0, "--corrupt")
        self.assertEqual(rc, 0)
        result = json.loads(out[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        ratio = {l.split()[0]: float(l.split()[1]) for l in tagged(out, "metric")}["fail_ratio"]
        self.assertGreater(ratio, 0.0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
