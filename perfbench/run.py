#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_config --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the program from source (see
build.py), then runs one workload in one JVM (perfbench.Main) under a
deadline, and prints that JVM's result object as the last line of stdout.
Exits non-zero, printing no result, when the checkout holds no program
sources, the build fails, the JVM fails, or the deadline passes.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_config", "stream_window", "corpus_dedup")
DEADLINE_S = 170  # the run must end within 180 s of its start, build excluded

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()  # exits non-zero when the checkout has no program sources

    launch_ms = int(time.time() * 1000)
    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    traces = build.OUT / "traces"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    traces.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", build.classpath(), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--launch-ms", str(launch_ms), "--work", str(work),
              "--trace-out", str(traces)])
    (work / "tmp").mkdir()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {args.workload} exceeded {DEADLINE_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"perfbench: JVM exited {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
