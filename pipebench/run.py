#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the ingestion pipelines.

    python3 pipebench/run.py --workload api_nested_inc --seed 1 --seconds 10 --trace 0
    python3 pipebench/run.py --selftest

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (pipebench/src) with the Scala
compiler that ships in the Spark jar directory, into .bench_build/.
Every run works in a fresh directory under .bench_build/work and removes
it at the end. The last line of stdout is the JSON result; a failed
build or run exits non-zero without printing one.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["api_nested_inc", "api_paged", "file_ingest", "graph_loops"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"
# C1 only: with the optimizing compiler the JIT still took about half the
# process CPU 30 s into a run, and runs spread twice as wide. Pipeline
# queries load generated code all run long, hence the larger code cache.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# project's own build passes to forked JVMs).
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
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the project builds against: the one its
    build.sbt names, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jar directory: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars exists")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala; run from the repository root")
    if not bench:
        fail("no benchmark sources under pipebench/src")
    return prog + bench


def build(jars):
    """Compile once per distinct source set into one jar, then archive
    the classes a training run loads (class-data sharing), so each run's
    cold JVM start is shorter. Returns the build directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs))
    print(f"pipebench: compiling {len(srcs)} files", file=sys.stderr)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "@" + argfile]
    try:
        r = subprocess.run(cmd, cwd=ROOT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    # one jar: class-data sharing archives classes from jars only
    with zipfile.ZipFile(os.path.join(out, "pipebench.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    print("pipebench: archiving classes with a training run", file=sys.stderr)
    work = os.path.join(BUILD, "work", f"train-{os.getpid()}")
    jsa = os.path.join(out, "classes.jsa")
    try:
        rc, _ = run_java(java_cmd(out, jars, "pipebench.Train", ["--work", work],
                                  ["-XX:ArchiveClassesAtExit=" + jsa]),
                         os.path.join(out, "train.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(jsa):
        os.remove(jsa)  # runs still work without the archive, only slower to start
    open(os.path.join(out, ".done"), "w").close()
    return out


def java_cmd(build_dir, jars, main, args, extra=()):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    jsa = os.path.join(build_dir, "classes.jsa")
    share = ["-XX:SharedArchiveFile=" + jsa] if os.path.isfile(jsa) and not extra else []
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false"] + share + list(extra) +
            JIT + opens +
            ["-cp", os.path.join(build_dir, "pipebench.jar") + os.pathsep + os.path.join(jars, "*"),
             main] + args)


def run_java(cmd, log_path):
    """Run the JVM with a deadline; returns (exit code, stdout lines)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return 124, []
    return p.returncode, out.splitlines()


def show_log_tail(log_path, n=40):
    try:
        lines = open(log_path, errors="replace").read().splitlines()
    except OSError:
        return
    for line in lines[-n:]:
        print(line, file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build_dir = build(jars)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)

    if a.selftest:
        work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
        log = os.path.join(logs, "selftest.log")
        try:
            rc, lines = run_java(java_cmd(build_dir, jars, "pipebench.SelfTest", ["--work", work]), log)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        if rc != 0:
            show_log_tail(log)
        sys.exit(rc)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--traces", os.path.join(BUILD, "traces")]
    try:
        rc, lines = run_java(java_cmd(build_dir, jars, "pipebench.Main", args), log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines), file=sys.stderr)
        show_log_tail(log)
        fail(f"run failed (exit {rc}); JVM log: {os.path.relpath(log, ROOT)}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
