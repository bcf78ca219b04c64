#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into one class directory under .bench_build/.

    python3 perfbench/build.py          # prints the class directory

Run from the repository root. The build is skipped when the sources, the
compiler options and the jar set are unchanged since the last build (a
content hash is kept next to the classes). Exits non-zero, without building,
when the engine sources or the Spark jars cannot be found.
"""

import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_ROOT = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
SCALAC_OPTS = ["-nowarn"]
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's own build.sbt declares."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.isfile("build.sbt"):
        with open("build.sbt", encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for d in candidates:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jar directory with spark-sql and "
                     "scala-compiler found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                             recursive=True))
    if not engine:
        raise BuildError(f"engine sources not found under {ENGINE_SRC}/ "
                         "(run from the repository root)")
    if not bench:
        raise BuildError(f"benchmark sources not found under {BENCH_SRC}/")
    return engine + bench


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_OPTS).encode())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (class directory, jar directory), compiling when stale.
    Concurrent callers wait on a lock, so one of them compiles."""
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(BUILD_ROOT, "perfbench", "classes-" +
                           fingerprint(srcs, jars))
    os.makedirs(os.path.dirname(classes), exist_ok=True)
    with open(os.path.join(BUILD_ROOT, "perfbench", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isfile(os.path.join(classes, "BUILD_OK")):
            compile_into(classes, srcs, jars, log)
    return classes, jars


def compile_into(classes, srcs, jars, log):
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_ROOT, "perfbench", "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", tmp, "-classpath", cp, f"@{argfile}"]
    print(f"[build] compiling {len(srcs)} sources -> {classes}", file=log,
          flush=True)
    try:
        proc = subprocess.run(cmd, stdout=log, stderr=log,
                              timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        raise BuildError(f"compile timed out after {COMPILE_TIMEOUT_S} s") \
            from e
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    with open(os.path.join(tmp, "BUILD_OK"), "w", encoding="utf-8") as f:
        f.write("ok\n")
    # a stale class directory from an older fingerprint is dead weight
    for old in glob.glob(os.path.join(BUILD_ROOT, "perfbench", "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, classes)


if __name__ == "__main__":
    try:
        out, _ = build()
    except BuildError as e:
        print(f"[build] error: {e}", file=sys.stderr)
        sys.exit(2)
    print(out)
