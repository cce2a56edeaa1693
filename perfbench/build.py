#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/classes. The root sbt build is not used, so the
benchmark builds without editing it and without resolving anything.

A build is skipped when a hash of every source file matches the stamp left
by the last successful build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = CLASSES / ".stamp"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    if not PROGRAM_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise SystemExit(f"perfbench: {PROGRAM_SRC} or {BENCH_SRC} missing; "
                         "run from the root of a full checkout")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(PROGRAM_SRC.rglob("*.scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return files


def source_hash(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([str(CLASSES), str(PROGRAM_RES), str(spark_jars() / "*")])


def build() -> None:
    files = sources()
    digest = source_hash(files)
    if STAMP.is_file() and STAMP.read_text() == digest:
        return
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", jars, f"@{argfile}"]
    print("perfbench: compiling", len(files), "sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    STAMP.write_text(digest)


if __name__ == "__main__":
    build()
