#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own sources (`zhbench/src`) with the Scala compiler that
ships with Spark, into `.bench_build/classes` under the repository root.
Spark's jars are found as the repository build finds them (see
`spark_jars`).

Usage: python3 zhbench/build.py   (from the repository root)

A build is skipped when the sources, the Spark jars and the JDK are the
same as for the last one (a hash is kept next to the classes).
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the repository
    build's `unmanagedBase`, else the one beside `spark-submit`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))),
                                  "jars"))
    for jars in cands:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("zhbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit(f"zhbench: engine sources not found under {engine}")
    files = []
    for base in (engine, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names
                      if n.endswith(".scala") or n.endswith(".java")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True).stderr)
    return h.hexdigest()


def build(root):
    """Compile if needed; returns the classpath to run with. Concurrent
    callers wait for one another, so only one of them compiles."""
    jars = spark_jars(root)
    files = sources(root)
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(files, jars, out)


def _build(files, jars, out):
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files, jars)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file):
        if open(stamp_file).read() == want:
            return cp
        os.remove(stamp_file)  # no stale stamp over a failed compile
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    found = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not found:
        raise SystemExit(f"zhbench: no scala-compiler jar under {jars}")
    ver = os.path.basename(found[0])[len("scala-compiler-"):-len(".jar")]
    compiler = [os.path.join(jars, f"scala-{p}-{ver}.jar")
                for p in ("compiler", "library", "reflect")]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes,
           "@" + argfile]
    r = subprocess.run(cmd)
    if r.returncode != 0:
        raise SystemExit(f"zhbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    build(os.getcwd())
    print("zhbench: build ok", file=sys.stderr)
