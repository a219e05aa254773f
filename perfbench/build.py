#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jars directory, into .bench_build/perfbench under the current
directory (the root of a checkout).

The build is skipped when a stamp over every source file still matches.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = os.path.join(".bench_build", "perfbench")
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit
    on PATH, else the engine's own build.sbt `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    p = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])


def build():
    """Build if stale; returns the JVM classpath for perfbench.Main."""
    engine, bench = sources(ENGINE_SRC), sources(BENCH_SRC)
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}: run from the root of a checkout")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    main_out, bench_out = os.path.join(BUILD, "main"), os.path.join(BUILD, "bench")
    classpath = os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(engine + bench, jars)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return classpath
        for d in (main_out, bench_out):
            shutil.rmtree(d, ignore_errors=True)
        scalac(jars, None, main_out, engine)
        scalac(jars, main_out, bench_out, bench)
        with open(stamp_file, "w") as f:
            f.write(want)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
