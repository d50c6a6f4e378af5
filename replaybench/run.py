#!/usr/bin/env python3
"""Replay benchmark: builds the engine and the benchmark from source, then
runs one workload in a fresh JVM and relays its result.

    python3 replaybench/run.py --workload backfill|tail|dedup|all \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds with sbt (offline,
Spark jars from $SPARK_HOME/jars); later runs reuse the build while the
sources are unchanged. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("backfill", "tail", "dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap: peak RSS then reads the heap plus everything
# outside it, instead of how far the collector happened to grow the heap.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# C1 only: on a 4-vCPU host the C2 compiler threads compete with the Spark
# cores for most of a one-minute run; C1 reaches steady state in seconds.
JIT = "-XX:TieredStopAtLevel=1"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"replaybench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """sha256 over every source and build file that goes into the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def build(digest, env):
    """Compile engine + benchmark unless the stamp says they are current."""
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("replaybench: building with sbt", file=sys.stderr)
    # sbt's global base (plugins, compiler bridge, server files) lives in
    # the build directory, so a build writes only inside the checkout
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
           "compile", "writeClasspath"]
    try:
        done = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)
    if done.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed with exit code {done.returncode}", 1)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git work tree."""
    def git(*a):
        out = subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    try:
        top = git("rev-parse", "--show-toplevel")
        if top and os.path.realpath(top) == os.path.realpath(ROOT):
            return git("rev-parse", "HEAD") or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def run_one(workload, args, env):
    """One workload in its own JVM; returns (exit code, stdout lines)."""
    work = os.path.join(TARGET, "work", f"{workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *HEAP, JIT, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "replaybench.Main",
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"replaybench: {workload} exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 1, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM still stops the JVM (run_one's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    digest = source_digest()
    env["REPLAYBENCH_SOURCE_SHA256"] = digest
    env["REPLAYBENCH_GIT_COMMIT"] = git_commit()
    build(digest, env)

    results = {}
    for w in (WORKLOADS if args.workload == "all" else (args.workload,)):
        code, lines = run_one(w, args, env)
        if code != 0 or not lines:
            fail(f"{w} exited with code {code}", 1)
        for line in lines[:-1]:
            print(line)
        results[w] = json.loads(lines[-1])
    if args.workload != "all":
        print(json.dumps(results[args.workload]))
        return
    # every workload in one result: metric names prefixed by the workload
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
