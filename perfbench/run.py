#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the repository's
sources under src/main/scala together with the harness in perfbench/src
(plain scalac from the Spark distribution's scala-compiler jar, no sbt) into
the build directory ($CARGO_TARGET_DIR, default .bench_build); later runs
reuse the build while the sources are unchanged. The harness JVM then runs
the workload and prints one JSON result line last on stdout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ("portrait_daily", "index_ingest_search")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
SCALA_VERSION = "2.13.17"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# sbt build's javaOptions).
ADD_OPENS = [
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


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir):
    """Compile the program and the harness; returns the class directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala here: run from the root of a graft checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    srcs = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in srcs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(
        os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", classes] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def java_cmd(classes, work, main_args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        # The sbt build's 512 MB code cache, with C1 only: runs of about a
        # minute under the default tiered JIT spent most of their CPU in C2
        # compiler threads, were 25% slower and less steady, and would not
        # fit the run budget (perfbench/README.md, "JIT"). The heap is
        # capped below the build's 8 GB default; the old generation peaks
        # near 170 MB. JVM warnings go to stderr: stdout carries results.
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1",
        "-Xlog:all=warning:stderr",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
        "perfbench.Main"] + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = java_cmd(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(HERE, "data", "sf0.1")])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    for l in lines:
        print(l)
    if not lines or not lines[-1].startswith('{"correct"'):
        fail(f"harness exited with code {proc.returncode} and no result")
    if proc.returncode != 0:
        # the result says correct: false; the failed checks are on stderr
        sys.exit(1)


if __name__ == "__main__":
    main()
