#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload table-churn --seed 1 --seconds 10 --trace 0

Builds graft together with the harness from source (once per checkout),
generates the workload's tables from the seed, runs the workload for
--seconds in one JVM with Spark local[n], n = min(4, nproc), and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-stamp.txt")
WORKLOADS = {
    # workload -> table scale handed to gen.py (1.0 = TPC-H sf1 row counts)
    "table-churn": 0.05,
    "llm-curation": 0.02,
}
DEADLINE_S = 170
BUILD_DEADLINE_S = 800
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (GRAFT_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(BENCH, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation graft compiles and runs against: SPARK_HOME, or
    the first spark-submit on the PATH that sits beside a jars directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")


def build():
    """Compiles graft and the harness with sbt unless this exact source tree
    was already built; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read() == stamp:
                with open(CLASSPATH_FILE) as cp:
                    return cp.read().strip()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True,
            timeout=BUILD_DEADLINE_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if ".jar" in l or "classes" in l][-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp)
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    return cp


def heap():
    """JVM heap sized from MemTotal as the repository's tier-1 test command
    does: half the memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(GRAFT_SRC):
        fail(f"graft sources not found at {GRAFT_SRC}; run from a full checkout")
    cp = build()
    started = time.time()
    run_dir = os.path.join(BENCH, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), data,
                        str(args.seed), str(WORKLOADS[args.workload])], check=True)
        cores = min(4, os.cpu_count() or 1)
        local = os.path.join(run_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={local}",
               "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
        for o in JDK17_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--run", run_dir, "--bench", BENCH,
                "--cores", str(cores)]
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                               timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            fail("run exceeded its deadline")
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            fail(f"harness exited with {p.returncode}")
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
