#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run in a checkout builds the
engine and the benchmark with sbt (the build is reused while the sources
are unchanged); every run then starts one JVM. The last line of standard
output is the result object; the lines before it are the run header and a
summary. The exit code is 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, "out")
WORKLOADS = ("dashboard", "store_dml", "dedup")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
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


def source_files():
    """Every file the build reads, relative to the repository root."""
    fixed = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    out = [p for p in fixed if os.path.isfile(os.path.join(ROOT, p))]
    for top in ("src/main", "perfbench/src/main"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            out += sorted(os.path.relpath(os.path.join(d, f), ROOT)
                          for f in files)
    return out


def source_sha(files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def build(sha):
    """Compiles with sbt unless this exact source tree was built already;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == sha:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    t0 = time.time()
    # dependencies come from the local cache only; nothing is downloaded
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    lines = [l for l in r.stdout.splitlines()
             if l and not l.startswith("[") and "classes" in l]
    if not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(sha)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the engine's sources are missing ({need}); "
                 "run from a checkout of the whole repository")

    files = source_files()
    sha = source_sha(files)
    cp = build(sha)

    work = os.path.join(WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", OUT_DIR,
              "--commit", git_commit(), "--source-sha", sha])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        fail(f"the JVM exited {proc.returncode} without a result line")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
