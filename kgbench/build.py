#!/usr/bin/env python3
"""Compiles the program and the benchmark into one classes directory.

The program is the repository's `src/main/scala` (plus its resources); the
benchmark is `kgbench/src`. Both compile with the Scala compiler that ships
in Spark's jars directory (`$SPARK_HOME/jars`, else the `jars` directory
beside the `spark-submit` on PATH), against those same jars. The output is
reused while no source changes.

Usage: python3 kgbench/build.py   (prints the classpath to run with)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars):
            return jars
    raise SystemExit("kgbench: no Spark jars (set SPARK_HOME or put Spark's spark-submit on PATH)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(roots[0]) for p in found):
        raise SystemExit(f"kgbench: no program sources under {roots[0]}")
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Returns the runtime classpath, compiling first if any source changed."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        tmp = os.path.join(OUT, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
               "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", f"{jars}/*", f"@{argfile}"]
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            raise SystemExit(f"kgbench: compile failed ({res.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([classes, resources, f"{jars}/*"])


if __name__ == "__main__":
    print(ensure())
