#!/usr/bin/env python3
"""Builds the benchmark harness.

    python3 perfbench/build.py

Compiles the program's sources (src/main/scala) together with the harness
(perfbench/src/main/scala) with the Scala compiler that the Spark
installation ships in its jars, and prints the runtime classpath. Spark
is found through SPARK_HOME, or else through `spark-submit` on the PATH.
The build reads only the sources and the Spark installation and writes
only under .bench_build/perfbench/ of the checkout; it rebuilds only when a
source changed.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.abspath(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
TMP = os.path.join(BUILD, "tmp")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src", "main", "scala"))
BUILD_LIMIT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on
    timeout and waits for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return p.returncode, out


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on the PATH")
    return jars


def sources():
    """Every source file, in a stable order."""
    out = []
    for top in SOURCE_DIRS:
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return out


def build():
    """Returns the runtime classpath, compiling first if any source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    jars = spark_jars()
    cp = os.pathsep.join([CLASSES, os.path.join(jars, "*")])
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    want = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return cp
        os.remove(stamp_file)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    os.makedirs(TMP, exist_ok=True)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{p}"' for p in srcs) + "\n")
    t0 = time.time()
    rc, out = run_group(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={TMP}",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", CLASSES, f"@{args_file}"],
        BUILD_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


if __name__ == "__main__":
    print(build())
