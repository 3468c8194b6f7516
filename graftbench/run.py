#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The library (src/main of the repository this directory sits in) and the
benchmark sources are compiled together with the Scala compiler that ships
in the Spark distribution; the build is cached under graftbench/target by a
hash of the sources. The JVM prints its configuration and, as the last line
of stdout, one JSON result. See README.md in this directory.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("genomic_io", "region_panel", "corpus_dedup")
RUN_LIMIT_S = 175
HEAP = "2g"
KEEP_SEEDS = 24

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its unmanagedBase)."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail("no Spark jars with spark-sql and scala-compiler found (set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    res = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(os.path.join(lib, "graft")) or not os.path.isdir(res):
        fail(f"library sources not found under {ROOT}/src/main; run from a full checkout")
    scala = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return scala, res, resources


def build(jars):
    scala, res, resources = sources()
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    builds = os.path.join(TARGET, "build")
    classes = os.path.join(builds, key)
    if os.path.isdir(classes):
        return key, classes, res
    for old in glob.glob(os.path.join(builds, "*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    os.makedirs(os.path.join(TARGET, "run", "tmp"), exist_ok=True)
    argfile = os.path.join(builds, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    print(f"graftbench: compiling {len(scala)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={os.path.join(TARGET, 'run', 'tmp')}",
                        "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed", 1)
    os.rename(tmp, classes)
    print(f"graftbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return key, classes, res


def evict_data(data, seed):
    """Keep the inputs of this build's most recently used seeds only."""
    for d in glob.glob(os.path.join(TARGET, "data", "*")):
        if d != data:
            shutil.rmtree(d, ignore_errors=True)
    dirs = [d for d in glob.glob(os.path.join(data, "s*")) if os.path.basename(d) != f"s{seed}"]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    jars = spark_jars()
    key, classes, res = build(jars)
    data = os.path.join(TARGET, "data", key)
    evict_data(data, a.seed)
    tmp = os.path.join(TARGET, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "resources", "log4j2.properties")] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join([classes, res, os.path.join(jars, "*")]),
            "graftbench.Main", "--home", HERE, "--data", data, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    # the JVM runs in its own session; take it down if this script is stopped
    signal.signal(signal.SIGTERM, lambda *_: (os.killpg(proc.pid, signal.SIGKILL), sys.exit(143)))
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                result = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with code {proc.returncode}", 1)
    print(result, flush=True)


if __name__ == "__main__":
    main()
