#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 mrbench/run.py --workload mr_invindex --seed 1 --seconds 24 --trace 0

Run it from the repo root. The first run in a checkout compiles the
engine's sources (../src/main) together with the harness (./src/main)
with sbt; later runs reuse the build while those sources are unchanged
and start the JVM directly. Workloads, metrics and bounds are described
in BENCHMARK.json at the repo root.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target", "mrbench-build.json")
WORKLOADS = ["mr_invindex", "dedup_keep"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# One JVM runs the whole local[nproc] Spark application. ParallelGC runs
# no collector threads concurrently with the task threads; on a 4-core host
# it cut the run-to-run spread of mr_invindex's job_s from about 15% (G1)
# to about 3%. A fixed heap size keeps heap resizing out of the timings.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"mrbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def source_stamp():
    """Digest of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(env):
    """Compile with sbt unless the last build is of these same sources."""
    stamp = source_stamp()
    try:
        with open(BUILD) as fh:
            built = json.load(fh)
        if built["stamp"] == stamp:
            return built["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH; it is needed to build the benchmark")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    sys.stderr.write(p.stdout)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ln.strip().startswith(os.path.join(HERE, "target"))]
    if p.returncode != 0 or not cps:
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(BUILD, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE}; run from a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = classpath(env)

    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "mrbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(p.stdout)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
