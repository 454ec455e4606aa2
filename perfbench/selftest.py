#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py            # all tests (about 4 minutes)
    python3 perfbench/selftest.py GenTest    # generator tests only (seconds)

GenTest: the same seed gives identical generated content, another seed
different content. SmokeTest: a tiny-size run of each workload, untraced and
traced, passes its output checks and prints exactly the metric names that
BENCHMARK.json declares.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


class GenTest(unittest.TestCase):
    def hashes(self, workload, seed):
        return {n: gen.content_hash(t) for n, t in gen.tables(workload, seed, "tiny")}

    def test_same_seed_same_content(self):
        for w in WORKLOADS:
            self.assertEqual(self.hashes(w, 7), self.hashes(w, 7), w)

    def test_other_seed_other_content(self):
        for w in WORKLOADS:
            a, b = self.hashes(w, 7), self.hashes(w, 8)
            for name in a:
                self.assertNotEqual(a[name], b[name], f"{w}.{name}")

    def test_workloads_match_spec(self):
        self.assertEqual(sorted(WORKLOADS), sorted(gen.SIZES))


class SmokeTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def check(self, trace, kind):
        names = [m["name"] for m in SPEC[kind]]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = self.run_bench(w, trace)
                self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(list(r["metrics"]), names)
                for m in SPEC[kind]:
                    self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])

    def test_end_to_end_metrics(self):
        self.check(0, "end_to_end")

    def test_per_layer_metrics(self):
        self.check(1, "per_layer")


if __name__ == "__main__":
    unittest.main()
