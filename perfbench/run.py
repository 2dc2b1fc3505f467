#!/usr/bin/env python3
"""Deviation-engine benchmark launcher.

Run from the repository root:

    python3 perfbench/run.py --workload <flagship|replication> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (the product sources plus perfbench/src) with sbt when
the sources changed since the last build, then runs one workload in a single
JVM. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
stamp (host shape, config, input sizes, check outcomes). On any error the
launcher exits non-zero without printing a result.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PRODUCT_SRC = ROOT / "src" / "main" / "scala"
CLASSPATH = BENCH / "target" / "classpath.txt"
STAMP = BENCH / "target" / "source-digest.txt"
WORKLOADS = ("flagship", "replication")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (PRODUCT_SRC, BENCH / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless the last build saw exactly these sources."""
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    print("perfbench: building (sbt writeClasspath)", file=sys.stderr)
    try:
        done = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if done.returncode != 0 or not CLASSPATH.exists():
        fail(f"build failed (sbt exit {done.returncode})")
    STAMP.write_text(digest)


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not PRODUCT_SRC.is_dir():
        fail(f"product sources not found at {PRODUCT_SRC.relative_to(ROOT)}; "
             "run from a full checkout")
    digest = source_digest()
    build(digest)

    work = BENCH / "work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dperfbench.git_commit={git_commit()}",
           f"-Dperfbench.source_digest={digest}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", str(work)]

    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
