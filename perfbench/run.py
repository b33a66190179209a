#!/usr/bin/env python3
"""Storage-service benchmark launcher.

Run from the repository root:

    python3 perfbench/run.py --workload api_mix --seed 1 --seconds 15 --trace 0

Builds the library (src/main/scala) and the benchmark driver
(perfbench/src) with the Scala compiler that ships in the Spark jars
directory, caches the classes under $CARGO_TARGET_DIR (default
.bench_build) keyed on a hash of every source file, then runs one workload
in one JVM. The JVM prints a human-readable summary and, as its last line,
one JSON object with `correct`, `attempted`, `failed` and `metrics`.

Everything the run writes stays under the build directory: the per-run work
directory (generated inputs, fixtures, commits, Spark scratch) is deleted
when the run ends; span traces of `--trace 1` runs are kept under
<build>/traces.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ("api_mix", "vector_query", "orphan_scan")
JVM_TIMEOUT_S = 170
# Mirrors build.sbt's javaOptions (JDK 17 module opens Spark needs outside
# spark-submit).
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


def source_files(root):
    out = []
    for base in ("src/main/scala", "src/main/resources", "perfbench/src",
                 "perfbench/resources"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def build(root, build_dir, jars_dir):
    """Compile library + driver unless the cached classes match the sources."""
    files = source_files(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars_dir))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    cp = os.path.join(jars_dir, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + scala
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        fail("compilation failed")
    for res in ("src/main/resources", "perfbench/resources"):
        src = os.path.join(root, res)
        if os.path.isdir(src):
            shutil.copytree(src, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")

    root = os.getcwd()
    for need in ("src/main/scala", "perfbench/src"):
        if not os.path.isdir(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars_dir):
        fail(f"Spark jars not found at {jars_dir} (set SPARK_HOME)")
    build_dir = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    classes = build(root, build_dir, jars_dir)

    # One work directory per run; leftovers of an interrupted run go first,
    # so no run ever sees state an earlier one left behind.
    work_root = os.path.join(build_dir, "work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)

    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.tmp={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens
           + ["-cp", classes + os.pathsep + os.path.join(jars_dir, "*"),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--trace-dir", traces])
    proc = subprocess.Popen(cmd, cwd=root)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = -1
        print("perfbench: JVM timed out", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work_root, ignore_errors=True)
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
