#!/usr/bin/env python3
"""Forget-table benchmark launcher.

    python3 ftbench/run.py --workload ft_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine (src/main/scala) and the
harness (ftbench/src) from source with the Scala compiler shipped in the
Spark jars directory ($SPARK_HOME/jars, else the root build's
unmanagedBase), offline, into .bench_build/ftbench; rebuilds only when a
source file changes. Then runs one workload in a fresh JVM. The last line
of stdout is the result JSON; everything else (build output, Spark logs)
goes to stderr. See ftbench/METRICS.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("ft_serve", "ft_stream")
OUT = os.path.join(ROOT, ".bench_build", "ftbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"ftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        die(3, f"engine sources not found under {engine}; run from the repository root")
    files = glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the directory the
    root build.sbt compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        die(3, "Spark jars not found: set SPARK_HOME")
    return m.group(1)


def compiler_jars(jars_dir):
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars_dir, f"{name}-2.13*.jar")))
        if not found:
            die(3, f"{name} jar not found in {jars_dir}")
        jars.append(found[-1])
    return jars


def build(files, jars_dir):
    """Compile engine + harness into OUT/classes unless the stamp matches."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars_dir))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler_jars(jars_dir)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars_dir, "*"),
           "-d", tmp, "@" + argfile]
    print(f"ftbench: building {len(files)} sources", file=sys.stderr)
    t = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die(3, "build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    # untraced results of the old build are no baseline for the new one
    for f in glob.glob(os.path.join(OUT, "untraced-*.jsonl")):
        os.remove(f)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    print(f"ftbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--fault", choices=("response", "fingerprint", "batch"),
                   help="corrupt the first output of this check; the run must fail")
    a = p.parse_args()
    if a.seconds < 1:
        die(2, "--seconds must be at least 1")

    files = sources()
    jars_dir = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    classes = build(files, jars_dir)
    run_dir = os.path.join(OUT, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss8m"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dftbench.t0={int(time.time() * 1000)}",
        "-cp", os.pathsep.join([classes, os.path.join(jars_dir, "*")]),
        "ftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--out-dir", OUT, "--data-dir", os.path.join(HERE, "data"),
    ]
    cmd += ["--fault", a.fault] if a.fault else []
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 4
        print(f"ftbench: run exceeded {RUN_TIMEOUT_S} s and was killed", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
