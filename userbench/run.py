#!/usr/bin/env python3
"""User-path benchmark of the engine.

Run from the repository root:

    python3 userbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

The first run builds the engine and the benchmark with sbt (the
benchmark is its own sbt build in this directory, depending on the root
build). Later runs reuse the recorded classpath until a source changes.
The benchmark JVM prints one JSON object as its last stdout line; this
script passes it through and exits 0 only if the run produced one.
Records and span dumps land in userbench/out/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "userbench-classpath.txt")
WORKLOADS = ("dashboard", "ingest_mixed", "analytics")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"userbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles engine + benchmark and records the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "sql", "GraftSession.scala")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(engine)):
        fail(f"engine sources not found under {ROOT}; run from a full checkout")

    cp = build()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    # everything the run writes stays under the checkout: no JVM perf
    # data in /tmp, and Spark's scratch space in the run's work directory
    cmd = [java, "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "userbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--out", os.path.join(HERE, "out")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last line of the benchmark output is not JSON")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
