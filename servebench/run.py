#!/usr/bin/env python3
"""Serving benchmark for the engine's search and ingest paths.

    python3 servebench/run.py --workload search_filtered --seed 1 --seconds 10 --trace 0
    python3 servebench/run.py --selftest

Run from the repository root. The first call compiles the engine
(src/main/scala) and the benchmark with the Scala compiler in Spark's jars
directory (found through SPARK_HOME, or spark-submit on PATH) into
.bench_build/servebench; later calls reuse that build while the sources are
unchanged. Each run is a fresh JVM; its scratch data lives under
.bench_build/servebench/work and is removed at the end. The human-readable
report goes to stdout, the JVM's log to .bench_build/servebench/out, and the
last stdout line is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "servebench")
WORKLOADS = ("search_filtered", "ingest_serve")
RUN_TIMEOUT_S = 170
HEAP = ["-Xms2g", "-Xmx2g"]
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("cannot find Spark's jars directory (set SPARK_HOME)")
    return jars


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala")] + [
        os.path.join(HERE, d) for d in ("src", "test")]
    if not os.path.isdir(roots[0]):
        fail(f"no engine sources under {roots[0]}; run from a full checkout")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + [os.path.join(HERE, "build.sh")]


def build(jars):
    """Compile unless a build of exactly these sources exists."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        print("servebench: compiling engine and benchmark", file=sys.stderr)
        subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD, jars],
                       check=True, stdout=sys.stderr)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)


def java(jars, main, args, log_path, work):
    """Run a JVM in its own process group; return (exit code, stdout)."""
    cp = ":".join([os.path.join(BUILD, "classes"), os.path.join(BUILD, "test-classes"),
                   os.path.join(jars, "*")])
    # every scratch location Spark, Hadoop or the JVM would pick points into `work`
    cmd = ["java", *HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop-tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=work, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return None, ""
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def main():
    # a SIGTERM unwinds through the cleanup that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the harness self-tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")

    jars = spark_jars()
    build(jars)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(out_dir, f"{name}.log")
    try:
        if a.selftest:
            code, out = java(jars, "servebench.SelfTest", [], log_path, work)
            sys.stdout.write(out)
            sys.exit(0 if code == 0 else 1)
        cpus = len(os.sched_getaffinity(0))
        code, out = java(jars, "servebench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out_dir, "--cpus", str(cpus),
        ], log_path, work)
        sys.stdout.write(out)
        result = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result):
            fail(f"run failed (exit {code}); log: {log_path}")
        with open(result) as fh:
            line = fh.read().strip()
        print(line, flush=True)
        if not json.loads(line)["correct"]:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
