#!/usr/bin/env python3
"""Benchmark command for graft's DIRT pipeline and dedup operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark with scalac on first use (into
.bench_build/), runs one workload in one JVM at local[nproc], and prints
one JSON result object as the last line of stdout. With --trace 1 the
per-layer ledger is printed instead of the end-to-end metrics, and the
span file is written to .bench_work/trace/<workload>-<seed>.json.

The Spark jars (which also carry the Scala compiler) are taken from
$SPARK_HOME/jars, or from the installation that holds spark-submit.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("zipf_lifecycle", "incremental", "dedup_graph")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
] + [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        fail(f"library sources missing: {lib}")
    return sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Compile library + benchmark into .bench_build/classes; skipped when
    the sources hash to the stamp of the last build."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = BUILD / "stamp"
    classes = BUILD / "classes"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    jars = spark_jars()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{jars}/*"
    t0 = time.time()
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", str(tmp), "-nowarn", f"@{argfile}"],
        cwd=ROOT, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java_cmd(classes, main, args, work):
    return (["java"] + JVM_OPTS +
            [f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-cp", f"{classes}{os.pathsep}{spark_jars()}/*", main] + args)


def run_jvm(cmd, timeout):
    """Run a JVM in its own process group; kill the group on timeout or
    interrupt and wait for it. Returns (returncode, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out.splitlines()


def main():
    # A terminated run still stops its JVM (run_jvm kills it on SystemExit).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classes = build()
    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    trace_out = WORK / "trace" / f"{a.workload}-{a.seed}.json"
    trace_out.parent.mkdir(parents=True, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--trace-out", str(trace_out)]
    try:
        code, lines = run_jvm(java_cmd(classes, "graftbench.Main", args, work),
                              RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = [l for l in lines if l.startswith('{"correct"')]
    if code != 0 or not result:
        fail(f"benchmark JVM exited with {code} and {len(result)} results")
    for l in lines:
        if l is not result[-1]:
            print(l)
    if a.trace == "1":
        print(f"[perfbench] spans written to {trace_out}", file=sys.stderr)
    print(result[-1])


if __name__ == "__main__":
    main()
