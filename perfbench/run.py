#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
then runs one workload in a fresh JVM.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload skewed_keys --seed 1 --seconds 30 --trace 0

The last line of stdout is the result JSON. Build outputs, scratch data and
span files stay under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root, out):
    """Compiles the engine's main sources and the benchmark's into `out`,
    unless a build of the same sources is already there."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def empty(work):
    """Frees the data of a run's scratch files but keeps the files.

    A run writes tens of thousands of small files. On ext4 without a journal
    the allocator skips inode numbers freed in the last 60 s (360 s while
    their inode table block is dirty), so deleting them made every file
    creation of the next run scan past them: 0.5 ms instead of 0.02 ms a file
    on the development box. Emptied files keep their inodes and free their
    blocks. `rm -rf .bench_build/work` reclaims the inodes when no run follows.
    """
    for d, _, files in os.walk(work):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                try:
                    os.truncate(p, 0)
                except OSError:
                    pass
    os.sync()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/test/resources/fixtures")):
        fail("no fixtures under src/test/resources; run from the root of a checkout")
    base = os.path.join(root, ".bench_build")
    classes = build(root, os.path.join(base, "perfbench"))
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    trace_out = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                          os.path.join(SPARK_JARS, "*")])
    os.sync()  # so writeback of the build's output does not land in the run
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap, touched at start-up, keeps peak RSS from following the
    # collector's resizing and keeps first-touch page faults out of the phases.
    cmd = ["java", *opens, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--root", root, "--work", work, "--trace-out", trace_out]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        empty(work)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(r.stdout)
        fail(f"benchmark JVM exited with {r.returncode}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
