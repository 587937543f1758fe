#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark runner from
source (once per source state), then runs one workload in one JVM and
prints the runner's JSON result as the last line of standard output.

    python3 perfbench/run.py --workload import_deid --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Build output, Derby databases and
warehouse files stay under `.bench_build/` in the checkout; each run's
scratch directory is removed when the run ends. `--scale` picks the
input tables under perfbench/data (default sf0.01).
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
PRODUCT = os.path.join(ROOT, "src", "main", "scala", "graft")
WORKLOADS = ("import_deid", "commit_curate")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(spark_home):
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building engine and benchmark runner with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"), "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g", "-XX:-UsePerfData"])
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "compile"], cwd=BENCH, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        log(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
        sys.exit(3)
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--scale", default="sf0.01")
    a = p.parse_args()

    data = os.path.join(BENCH, "data", a.scale)
    if not os.path.isdir(PRODUCT) or not os.path.isdir(data):
        log("the engine sources (src/main/scala/graft) or the input tables are missing; "
            "run from the root of a graft checkout")
        sys.exit(2)
    spark_home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
        if shutil.which("spark-submit") else None)
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        log("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    build(spark_home)

    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    cp = os.pathsep.join([classes] + sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))))
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
              "-Dderby.system.durability=test",
              f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--data", data, "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    # a SIGTERM ends the run through the `finally` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
        sys.exit(4)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        log(f"runner exited with {proc.returncode} and no result")
        sys.exit(proc.returncode or 5)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
