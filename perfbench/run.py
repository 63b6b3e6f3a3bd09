#!/usr/bin/env python3
"""Build graft from source and run one perfbench workload.

    python3 perfbench/run.py --workload curate|lake_etl \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. The library (src/main/scala) and the
benchmark program (perfbench/scala) are compiled with the Scala compiler
that ships in Spark's jars directory, into $CARGO_TARGET_DIR (default
.bench_build), keyed by a hash of the sources; a second run reuses the
build. Generated inputs are cached there per workload and seed, and
everything a run writes stays under that directory.

The last stdout line is the JSON result. Exit status is non-zero, with
no result line, if the build, the run or the result is missing.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("curate", "lake_etl")
RUN_TIMEOUT_S = 170
DRIVER_MEM = "3g"
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


def spark_jars():
    """Spark's jars directory, $SPARK_HOME/jars, which holds the Scala
    compiler the build uses."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Scala compiler in $SPARK_HOME/jars; set SPARK_HOME to a Spark install")
    return jars


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not lib:
        fail("no library sources under src/main/scala; run from a graft checkout")
    if not bench:
        fail("no benchmark sources under perfbench/scala")
    return lib, bench


def scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    comp = ":".join(glob.glob(os.path.join(jars, n))[0] for n in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", comp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + files
    with open(log, "ab") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log, "rb") as fh:
            sys.stderr.write(fh.read()[-4000:].decode("utf-8", "replace"))
        fail(f"compile failed (see {log})")


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, state, jars):
    """Compiles the library and the benchmark program once per source
    hash. Returns the run classpath and the benchmark program's own
    hash, which keys the input cache (the generators live there)."""
    lib, bench = sources(root)
    out = os.path.join(state, "build", digest(root, lib + bench))
    done = os.path.join(out, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        log = os.path.join(out, "compile.log")
        t0 = time.time()
        jcp = os.path.join(jars, "*")
        scalac(jars, jcp, os.path.join(out, "lib"), lib, log)
        scalac(jars, jcp + ":" + os.path.join(out, "lib"), os.path.join(out, "bench"), bench, log)
        open(done, "w").write(f"{time.time() - t0:.1f}s\n")
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    classpath = [os.path.join(out, "lib"), os.path.join(out, "bench"), os.path.join(jars, "*")]
    return classpath, digest(root, bench)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(classpath, tmp, main, args, log, timeout):
    """Runs a JVM whose scratch files all stay under `tmp`."""
    cmd = (["java", f"-Xmx{DRIVER_MEM}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dderby.stream.error.file=" + os.path.join(tmp, "derby.log")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), main] + args)
    with open(log, "wb") as err:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{main} exceeded {timeout}s (log: {log})")
    if proc.returncode != 0:
        with open(log, "rb") as fh:
            sys.stderr.write(fh.read()[-6000:].decode("utf-8", "replace"))
        fail(f"{main} exited with {proc.returncode} (log: {log})")
    return out.decode("utf-8", "replace").splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    state = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, generator = build(root, state, spark_jars())
    work = os.path.join(state, "work", a.workload or "self-test")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, "jvm.log")

    if a.self_test:
        for line in java(classpath, tmp, "graftbench.SelfTest", [], log, RUN_TIMEOUT_S):
            print(line)
        return

    inputs = os.path.join(state, "inputs")
    lines = java(classpath, tmp, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()), "--driver-mem", DRIVER_MEM,
        "--work", work, "--inputs", os.path.join(inputs, generator)], log, RUN_TIMEOUT_S)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {}
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("the run printed no result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
