#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [-k pattern]

- the same seed gives byte-identical inputs, another seed different ones;
- a tiny-size run of every workload prints every declared metric with
  its unit, untraced and traced, and all outputs pass their oracles;
- a wrong prediction injected before the oracle runs is flagged.

The runs use the "tiny" input size and a 1-second window; they take a few
minutes, most of it JVM and Spark start-up.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace=0, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    if r.returncode != 0:
        raise AssertionError(f"{cmd} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class Inputs(unittest.TestCase):
    def test_seed_determinism(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as tmp:
            for w in run.WORKLOADS:
                a, b, c = (os.path.join(tmp, f"{w}-{k}") for k in "abc")
                gen.generate(w, 11, a, "tiny")
                gen.generate(w, 11, b, "tiny")
                gen.generate(w, 12, c, "tiny")
                self.assertEqual(run.tree_digest(a), run.tree_digest(b), w)
                self.assertNotEqual(run.tree_digest(a), run.tree_digest(c), w)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        out = bench(workload, trace)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], out)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_knn_classify(self):
        self.check("knn_classify", 0)
        self.check("knn_classify", 1)

    def test_query_floor(self):
        self.check("query_floor", 0)
        self.check("query_floor", 1)

    def test_ann_index(self):
        self.check("ann_index", 0)
        self.check("ann_index", 1)


class Oracle(unittest.TestCase):
    def test_injected_wrong_prediction_is_flagged(self):
        out = bench("knn_classify", 0, "--inject-fault")
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)

    def test_injected_wrong_neighbour_is_flagged(self):
        out = bench("ann_index", 0, "--inject-fault")
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)


if __name__ == "__main__":
    unittest.main()
