#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload kg_long_tail_vocab --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --selftest

The program and the benchmark are compiled together from source with the
Scala compiler that ships in Spark's jars (no sbt) into one jar, beside a
class-data archive that a self-test run writes, in a directory keyed by a
hash of the sources; so only the first run after a change builds. Each run
is a fresh JVM at local[N], N = min(3, nproc - 1). The last line of standard
output is the result:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

Untraced runs (--trace 0) report the end-to-end metrics of BENCHMARK.json,
traced runs (--trace 1) its per-layer metrics; a per-layer metric of a layer
the workload does not run reads 0. Every run also appends one JSON record
with all its figures to <build dir>/records.jsonl and prints it on the line
before the result.
"""

import argparse
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
RUN_TIMEOUT_S = 170
# Spark's local[N]: one core is left to the driver thread, the JIT compiler
# and the GC
CORES = max(1, min(3, (os.cpu_count() or 2) - 1))
JAR = "perfbench.jar"
ARCHIVE = "perfbench.jsa"
BUILD_TIMEOUT_S = 600

# What build.sbt gives forked runs: the JDK 17 --add-opens set, the
# throughput collector and a young generation half the heap.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:+UseParallelGC", "-XX:NewRatio=1", "-XX:-UsePerfData",
    "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("no src/main/scala under %s: run from the repository root" % ROOT)
    if not os.path.isdir(SPARK_JARS):
        fail("no Spark jars at %s (set SPARK_HOME)" % SPARK_JARS)
    out = []
    for base in (main, os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def spark_jars():
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def build():
    """Compile program + benchmark into one jar and write a class-data
    archive for it; returns the build directory and the source hash.

    The archive (AppCDS) holds the classes a self-test run loaded, parsed
    and verified, so every later JVM maps them instead of loading them from
    some 250 jars: JVM and session start and the first, cold set-up take
    seconds less. It changes no code the runs execute, and repetitions are
    timed after the warm-up in any case.
    """
    srcs = sources()
    h = hashlib.sha256()
    for jar in spark_jars():
        h.update(os.path.basename(jar).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, "build-" + digest)
    if os.path.isfile(os.path.join(out, ARCHIVE)):
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(os.path.join(tmp, "jtmp"))
    t0 = time.time()
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(tmp, "jtmp"),
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(SPARK_JARS, "*"), "-d", os.path.join(tmp, "classes")]
    os.makedirs(os.path.join(tmp, "classes"))
    try:
        res = subprocess.run(cmd + srcs, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(out, ignore_errors=True)
        fail("build timed out")
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("build failed")
    with zipfile.ZipFile(os.path.join(out, JAR), "w", zipfile.ZIP_DEFLATED) as z:
        base = os.path.join(tmp, "classes")
        for d, _, files in os.walk(base):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), base))
    shutil.rmtree(tmp)
    print("perfbench: compiled in %.1f s; writing the class-data archive" % (time.time() - t0), file=sys.stderr)
    work = os.path.join(out, "train")
    code, text = java(out, "perfbench.SelfTest", ["--work", work, "--cores", str(CORES), "--seed", "1"],
                      work, heap(), ["-XX:ArchiveClassesAtExit=" + os.path.join(out, ARCHIVE + ".tmp")])
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(os.path.join(out, ARCHIVE + ".tmp")):
        sys.stderr.write(text)
        shutil.rmtree(out, ignore_errors=True)
        fail("self-test run for the class-data archive failed")
    os.rename(os.path.join(out, ARCHIVE + ".tmp"), os.path.join(out, ARCHIVE))
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return out, digest


def heap():
    """A quarter of physical memory, between 2 and 4 GB."""
    try:
        gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2 ** 30
    except (ValueError, OSError):
        gb = 8
    return "%dg" % max(2, min(4, int(gb / 4)))


def commit():
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def java(out, main, args, work, xmx, cds=None):
    """Runs `main` from the build in `out`; returns the exit code and stdout.
    Without `cds` flags the JVM maps the build's class-data archive."""
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    cds = cds or ["-XX:SharedArchiveFile=" + os.path.join(out, ARCHIVE)]
    # the class path is spelled out in a fixed order: the archive is only
    # used by a JVM with the class path it was written with
    cp = os.pathsep.join([os.path.join(out, JAR)] + spark_jars())
    cmd = ["java", "-Xms" + xmx, "-Xmx" + xmx, "-Djava.io.tmpdir=" + jtmp] + cds + JVM_FLAGS + [
        "-cp", cp, main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        text, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    return proc.returncode, text


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b


def main():
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="test the output checks and exit")
    a = ap.parse_args()

    bench = declared() if os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")) else None
    if bench is None:
        fail("no BENCHMARK.json in %s" % ROOT)
    names = [w["name"] for w in bench["workloads"]]
    if not a.selftest and a.workload not in names:
        fail("--workload must be one of %s" % ", ".join(names))
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]

    out, digest = build()
    xmx = heap()
    work = os.path.join(BUILD_DIR, "work", "%d-%d" % (os.getpid(), int(time.time() * 1000)))
    os.makedirs(work)
    try:
        if a.selftest:
            code, text = java(out, "perfbench.SelfTest",
                              ["--work", work, "--cores", str(CORES), "--seed", str(a.seed)], work, xmx)
            sys.stdout.write(text)
            sys.exit(code)
        code, text = java(out, "perfbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
                          "--trace", str(a.trace), "--work", work, "--cores", str(CORES)], work, xmx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in text.splitlines() if l.startswith("PERFBENCH_RECORD ")]
    if code != 0 or not lines:
        fail("benchmark JVM exited with %d" % code)
    rec = json.loads(lines[-1][len("PERFBENCH_RECORD "):])

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    unknown = set(rec["metrics"]) - {m["name"] for m in wanted}
    if unknown:
        fail("metrics not declared in BENCHMARK.json: %s" % ", ".join(sorted(unknown)))
    if not a.trace:
        missing = [m["name"] for m in wanted if m["name"] not in rec["metrics"]]
        if missing:
            fail("end-to-end metrics not measured: %s" % ", ".join(missing))
    metrics = {m["name"]: {"value": rec["metrics"].get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    rec.update(metrics=metrics, commit=commit(), source_hash=digest, nproc=os.cpu_count(), heap=xmx,
               time=datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"))
    with open(os.path.join(BUILD_DIR, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(rec, sort_keys=True) + "\n")
    print(json.dumps(rec, sort_keys=True))
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
