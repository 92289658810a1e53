#!/usr/bin/env python3
"""Ingest benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_many_small --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source with sbt (offline, only
when a source file changed since the last build), then runs one workload
in a fresh JVM. Everything the run writes stays inside the checkout:
build output under perfbench/target, scratch files under perfbench/work
(emptied before and after each run) and traced spans under perfbench/out.
The last line of stdout is the JSON result.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ingest_many_small", "ingest_append_logs")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load():
    """load1 and the seconds of CPU time the hypervisor stole so far."""
    with open("/proc/loadavg") as f:
        l1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return f"load1 {l1:.2f} steal {steal:.1f} s"


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
            continue
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for name in sorted(files):
                yield os.path.join(d, name)


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the install behind a spark-submit on PATH; the
    build compiles against its jars/ directory."""
    cands = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for c in cands:
        if c and os.path.isdir(os.path.join(c, "jars")):
            return c
    raise SystemExit("perfbench: no Spark install found; set SPARK_HOME")


def build():
    """Compile with sbt when sources changed; return the classpath."""
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    want = stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode})")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no library sources next to perfbench/; "
                         "run it from the root of a full checkout")
    cores = len(os.sched_getaffinity(0))
    print(f"[perfbench] start: {load()}, cores {cores}", flush=True)
    cp = build()

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dderby.system.home=" + tmp,
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work", WORK, "--out", OUT])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(WORK, ignore_errors=True)
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(WORK, ignore_errors=True)
    lines = stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(stdout)
        raise SystemExit(f"perfbench: benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(f"[perfbench] end: {load()}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
