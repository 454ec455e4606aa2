"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark's own sources (perfbench/src) into one
class directory with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py            # build (no-op when up to date)

The build is keyed by a hash of every source file, so a stale class
directory is never reused. Spark's jars are found under $SPARK_HOME/jars,
or next to the `spark-submit` on PATH when SPARK_HOME is unset.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [(Path(d) / "spark-submit").resolve().parent.parent
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def build_dir() -> Path:
    d = os.environ.get("CARGO_TARGET_DIR")
    return (ROOT / d if d else BENCH / ".build").resolve() / "perfbench"


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found at {program}")
    srcs = sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return srcs


def classpath(classes: Path) -> str:
    parts = [str(classes)]
    res = ROOT / "src" / "main" / "resources"
    if res.is_dir():
        parts.append(str(res))
    parts.append(str(spark_jars() / "*"))
    return os.pathsep.join(parts)


def build() -> Path:
    """Returns the class directory, compiling first if a source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    jars = spark_jars()
    compiler = [j for j in sorted(jars.glob("scala-*.jar"))
                if j.name.split("-")[1] in ("compiler", "library", "reflect")]
    if len(compiler) < 3:
        raise BuildError(f"Scala compiler jars not found in {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = out / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp), f"@{args}"]
    print(f"[build] compiling {len(srcs)} sources into {classes}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
