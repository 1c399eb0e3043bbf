#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles, from the checkout it sits in:
  1. the program under test: every file under src/main/scala, with the
     Scala compiler that ships in the Spark distribution (the same
     2.13.17 that build.sbt pins), against the Spark jars;
  2. the benchmark harness: perfbench/src/**/*.scala, against (1).

Outputs go to .bench_build/ at the root of the checkout, keyed by a hash
of every compiled source, so a second run of the same tree reuses them.
Nothing is read or written outside the checkout except the JDK and the
Spark jars: $SPARK_HOME/jars, or the jars next to the spark-submit on PATH.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


def _spark_home():
    """$SPARK_HOME, else the distribution of the first spark-submit on PATH
    that ships the Scala compiler in its jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars", "*")


class BuildError(Exception):
    pass


def _sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _scalac(out_dir, classpath, files, log):
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-classpath", classpath] + files
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise BuildError(f"scalac failed ({r.returncode}) for {out_dir}:\n{tail}")


def build():
    """Compile what is stale; return the classpath to run the harness with."""
    prog_files = _sources(PROGRAM_SRC)
    harness_files = _sources(HARNESS_SRC)
    if not prog_files:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    if not harness_files:
        raise BuildError(f"no harness sources under {HARNESS_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    prog_key = _digest(prog_files)
    harness_key = _digest(prog_files + harness_files)
    prog_out = os.path.join(BUILD, "program-" + prog_key)
    harness_out = os.path.join(BUILD, "harness-" + harness_key)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for out, cp, files in (
                (prog_out, SPARK_JARS, prog_files),
                (harness_out, os.path.join(prog_out, "classes") + os.pathsep + SPARK_JARS,
                 harness_files)):
            if os.path.exists(os.path.join(out, ".done")):
                continue
            shutil.rmtree(out, ignore_errors=True)
            _scalac(os.path.join(out, "classes"), cp, files, out + ".log")
            open(os.path.join(out, ".done"), "w").close()
        # Drop outputs of other trees so the build dir stays bounded.
        for d in glob.glob(os.path.join(BUILD, "program-*")) + glob.glob(os.path.join(BUILD, "harness-*")):
            if os.path.splitext(d)[0] not in (prog_out, harness_out):
                shutil.rmtree(d, ignore_errors=True) if os.path.isdir(d) else os.remove(d)
    parts = [os.path.join(harness_out, "classes"), os.path.join(prog_out, "classes")]
    if os.path.isdir(PROGRAM_RES):
        parts.append(PROGRAM_RES)
    parts.append(SPARK_JARS)
    return os.pathsep.join(parts), prog_key


if __name__ == "__main__":
    try:
        cp, key = build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(cp)
