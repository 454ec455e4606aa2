#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload physio_long --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark (perfbench/build.py), runs one
workload in a fresh JVM (graft.perfbench.Main: seeded generation, set-up,
the timed closed loop, hash and kernel checks), compares the ops that have
DuckDB oracle SQL against DuckDB on the generated tables, prints a report,
and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (from a separate traced run).
--size tiny runs the smoke-test inputs.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.path.insert(1, str(BENCH.parent / "tools"))
import build  # noqa: E402
import gen  # noqa: E402

JVM_HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170  # the whole run, build excluded


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def run_jvm(classes: Path, work: Path, args, deadline: float) -> dict:
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss16m",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dgraft.sink.dir={work / 'sink'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    t_start = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("benchmark JVM exceeded the run time limit")
    print(f"[perfbench] JVM exited after {time.monotonic() - t_start:.2f} s", file=sys.stderr)
    if rc != 0:
        raise RuntimeError(f"benchmark JVM exited with code {rc}")
    return json.loads((work / "result.json").read_text())


# ---- DuckDB oracle comparison, with the rules of the repository's
# tools/check.py: columns and rows sorted, cells equal exactly ----

def oracle_check(con, sql: str, out_dir: str) -> str:
    """'' when the Spark output equals DuckDB's result, else what differs."""
    import pandas as pd
    from check import canon, cmp_cell
    got = canon(pd.read_parquet(out_dir))
    want = canon(con.execute(sql).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if gk != wk and {gk, wk} <= {"i", "u", "f"} and \
                not got[c].isna().any() and not want[c].isna().any():
            return f"dtype col {c}: spark={got[c].dtype} duckdb={want[c].dtype}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not cmp_cell(x, y):
                return f"col {c} row {i}: spark={x!r} duckdb={y!r}"
    return ""


def duckdb_checks(res: dict, work: Path) -> None:
    ops = [o for o in res["ops"] if o["check"] == "hash+duckdb"]
    if not ops:
        return
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in res["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work / 'data' / (t + '.parquet')}/*.parquet')")
    for o in ops:
        t0 = time.monotonic()
        try:
            o["error"] = oracle_check(con, o["oracle_sql"], o["output"])
        except Exception as e:  # a failing oracle run is a failed check
            o["error"] = f"oracle run failed: {e}"[:300]
        o["check_s"] = time.monotonic() - t0


def report(res: dict) -> None:
    w = sys.stdout.write
    w(f"workload {res['workload']} seed {res['seed']} trace {int(res['trace'])} "
      f"cores {res['cores']} generation {res['gen_s']:.2f} s\n")
    for t, v in res["tables"].items():
        w(f"  table {t:<11} rows {v['rows']:>9} bytes {v['bytes']:>11} hash {v['hash']} "
          f"spark hash {res['table_hashes'][t]}\n")
    for o in res["ops"]:
        status = "ok" if not o["error"] and not o["hash_failures"] else "FAIL"
        p50 = o["p50_s"]
        p50s = f"{p50:8.3f}" if isinstance(p50, (int, float)) else "     n/a"
        w(f"  op {o['op']:<28} {','.join(o['modules']):<16} check {o['check']:<12} "
          f"runs {o['runs']:>3} p50 {p50s} s "
          f"{'duckdb %.2f s ' % o['check_s'] if 'check_s' in o else ''}{status}"
          f"{(' ' + o['error']) if o['error'] else ''}\n")
    w("  pass walls: " + " ".join(
        f"{p['wall_s']:.3f}{'t' if p['traced'] else ''}" for p in res["passes"]) + " s\n")
    att, fail = res["attempted"], res["failed"]
    w(f"  passes {len(res['passes'])}, warm op samples {res['op_samples']}, "
      f"op_tail_s {res['op_tail_s']:.4f} s at rank {res['op_tail_rank']} of "
      f"{res['op_samples']} (ten samples beyond it need 11 or more)\n")
    w(f"  fail_ratio {fail / max(att, 1):.4f} ({fail} of {att} ops)\n")
    if res["trace"]:
        top = list(res["self_s"].items())[:8]
        w("  span self time: " + ", ".join(f"{k} {v:.2f} s" for k, v in top) + "\n")
        w("  op latency by module: " + ", ".join(
            f"{k}.op_s {v:.3f} s" for k, v in res["module_op_s"].items()) + "\n")
        w(f"  executor GC time (spark.gc_s) {res['gc_s']:.3f} s\n")
    for k, v in res["metrics"].items():
        w(f"  {k:<26} {v['value']:.6g} {v['unit']}\n")


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = BENCH / ".work" / args.workload
    shutil.rmtree(work, ignore_errors=True)  # no state from an earlier run
    t0 = time.monotonic()
    tables = gen.write(args.workload, args.seed, work / "data", args.size)
    if args.trace and "events" not in tables:
        # the traced kernel leg times the kernels on physio_long's recordings
        gen.write("physio_long", args.seed, work / "kernels", args.size)
    gen_s = time.monotonic() - t0
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        res = run_jvm(classes, work, args, deadline)
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    res["tables"], res["gen_s"] = tables, gen_s
    duckdb_checks(res, work)
    # an op whose output is wrong failed on every run; otherwise the runs
    # that threw or disagreed with the op's first hash failed
    failed = sum(o["runs"] if o["error"] else o["hash_failures"] for o in res["ops"])
    res["failed"] = failed
    report(res)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": res["metrics"],
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
