#!/usr/bin/env python3
"""Ingest benchmark of the graft push-based file source.

Run from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

It builds the program and the benchmark from source (see build.py), makes
the workload's inputs from the seed, runs them through the `graft-files`
source on a local Spark session with one thread per core, checks that every
file's rows land in the sink exactly once, and prints one line per metric
followed by a one-line JSON result. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones; a traced run also checks the stream
rows it ran against their DuckDB oracles (see oracle.py). Workloads and
metrics are described in README.md. Exits nonzero on any wrong output or
failed run.
"""

import argparse
import io
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("backlog_drain", "steady_ingest", "sqs_drain")
DEADLINE_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java(root: Path, classpath: str, work: Path, main: str, args: list, timeout: float):
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    # nodelay: the SQS stub's HTTP answers go out without waiting on delayed ACKs
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dsun.net.httpserver.nodelay=true",
           f"-Dlog4j2.configurationFile={root / 'perfbench' / 'conf' / 'log4j2.properties'}",
           "-cp", classpath, main, *args]
    try:
        return subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env, timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout:.0f}s", file=sys.stderr)
        return None


def check_rows(work: Path, stdout: str):
    """Check the stream rows a traced run materialised against their DuckDB
    oracles. Returns the output with one line per row before the result,
    the result marked incorrect when any row mismatches, and that count."""
    out = work / "rows-out"
    if not (out / "oracle_sql.json").is_file():
        return stdout, 0
    log = io.StringIO()
    bad = oracle.check(work / "rows-fixture", out, log)
    lines = stdout.rstrip("\n").split("\n")
    if bad:
        result = json.loads(lines[-1])
        result["correct"] = False
        result["failed"] += bad
        lines[-1] = json.dumps(result)
    return "\n".join(lines[:-1]) + "\n" + log.getvalue() + lines[-1] + "\n", bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "perfbench").is_dir():
        print("perfbench: run from the root of a checkout holding src/main/scala and perfbench/",
              file=sys.stderr)
        return 2
    classpath = build.build(root)
    started = time.monotonic()  # a first run's build may take longer than the deadline
    bench = root / build.BUILD_DIR
    work = bench / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            proc = java(root, classpath, work, "perfbench.SelfTest", [str(work)], DEADLINE_S)
        else:
            spans = bench / "spans" / f"{a.workload}-{a.seed}.jsonl"
            spans.parent.mkdir(parents=True, exist_ok=True)
            left = DEADLINE_S - (time.monotonic() - started)
            proc = java(root, classpath, work, "perfbench.Main",
                        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--work", str(work), "--spans", str(spans)], left)
        if proc is None:
            return 3
        stdout, bad = proc.stdout, 0
        if proc.returncode in (0, 1) and a.trace:
            stdout, bad = check_rows(work, stdout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    sys.stdout.flush()
    return 1 if bad and proc.returncode == 0 else proc.returncode


if __name__ == "__main__":
    sys.exit(main())
