#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py <workload> <first_seed> <n_runs>

Runs perfbench/run.py once per seed (first_seed, first_seed+1, ...), then
prints for each end-to-end metric of BENCHMARK.json its median, quartiles
and the quartile distance as a share of the median, next to the metric's
bound. A benchmark is steady when every share (setup_s aside) is well
below its bound. Each run's result line and report are appended to
perfbench/.work/spread-<workload>.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("n_runs", type=int)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    log = BENCH / ".work" / f"spread-{a.workload}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    results = []
    with log.open("a") as f:
        for seed in range(a.first_seed, a.first_seed + a.n_runs):
            p = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
                return 1
            r = json.loads(lines[-1])
            r["seed"] = seed
            r["report"] = lines[:-1]
            f.write(json.dumps(r) + "\n")
            f.flush()
            results.append(r)
            print(f"seed {seed}: correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    print(f"{'metric':<18} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:<18} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
              f"{(q3 - q1) / med:>8.3f} {m['bound']:>6}")
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
