#!/usr/bin/env python3
"""Per-metric and per-op summary of a perfbench A/B (or A/B/C) run.

Usage: python3 tools/ab_ops.py <side_dir> <side_dir> [<side_dir> ...]

Each <side_dir> holds saved copies of `perfbench/.work/<workload>/result.json`,
one file per run, named by the run's round (for example `41.json` for
seed 41). The side's name is the directory's base name. Runs with the same
file name on every side form one round.

For every end-to-end metric in result.json's `metrics` and every op's
`p50_s`, prints each side's median with its quartiles [q1, q3] and the
number of rounds each side won: the side with the best value of a round
wins it (lower is better, except for metrics BENCHMARK.json marks
"better": "higher"); a tie wins for nobody. The first side is the
reference: its quartile distance (`spread`) is printed next to the gap
between each other side's median and its own, which is the comparison the
claimed-gain rule makes (at least 9 of 10 rounds won and a median gap
larger than the reference's spread).
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def higher_is_better() -> set:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in bench["end_to_end"] + bench["per_layer"]
            if m["better"] == "higher"}


def load(side: Path) -> dict:
    """{round: {series name: value}} for one side's saved result.json copies."""
    runs = {}
    for f in sorted(side.glob("*.json")):
        res = json.loads(f.read_text())
        vals = {k: v["value"] for k, v in res["metrics"].items()}
        for o in res.get("ops", []):
            if isinstance(o.get("p50_s"), (int, float)):
                vals[f"op {o['op']}"] = o["p50_s"]
        runs[f.stem] = vals
    return runs


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv: list) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sides = [Path(a) for a in argv]
    names = [s.resolve().name for s in sides]
    data = [load(s) for s in sides]
    rounds = sorted(set.intersection(*(set(d) for d in data)))
    if not rounds:
        print("no round has a result on every side", file=sys.stderr)
        return 1
    higher = higher_is_better()
    series = [k for k in data[0][rounds[0]]
              if all(k in d[r] for d in data for r in rounds)]
    print(f"{len(rounds)} rounds: {' '.join(rounds)}")
    print(f"{'series':<36}" + "".join(f"{n:>34}" for n in names) + f"{'wins':>14}")
    for k in series:
        cols, meds = [], []
        for d in data:
            q1, med, q3 = quartiles([d[r][k] for r in rounds])
            meds.append(med)
            cols.append(f"{med:>10.4g} [{q1:.4g}, {q3:.4g}]")
        wins = [0] * len(sides)
        for r in rounds:
            vals = [d[r][k] for d in data]
            best = max(vals) if k in higher else min(vals)
            if vals.count(best) == 1:
                wins[vals.index(best)] += 1
        q1, _, q3 = quartiles([data[0][r][k] for r in rounds])
        gaps = " ".join(f"{m - meds[0]:+.4g}" for m in meds[1:])
        print(f"{k:<36}" + "".join(f"{c:>34}" for c in cols)
              + f"{'/'.join(map(str, wins)):>14}   gap {gaps} spread {q3 - q1:.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
