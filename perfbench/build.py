#!/usr/bin/env python3
"""Builds the benchmark harness.

    python3 perfbench/build.py

Compiles graft's main sources (src/main/scala of the enclosing checkout)
together with the harness (perfbench/src/main/scala) into
perfbench/target/classes, with the Scala compiler that ships among Spark's
jars, so a build needs only java and a Spark installation: $SPARK_HOME,
else the Spark whose jars graft's own build.sbt names. The compile is
skipped while the sources are unchanged since the last build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
RESOURCES = os.path.join(HERE, "src", "main", "resources")
STAMP = os.path.join(TARGET, "graftbench.stamp")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = home and os.path.join(home, "bin", "java")
    return exe if exe and os.path.isfile(exe) else "java"


def spark_jars():
    """Spark's jars, sorted: $SPARK_HOME/jars, else those of graft's build.sbt."""
    home = os.environ.get("SPARK_HOME")
    jars = home and os.path.join(home, "jars")
    if not jars:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark installation found: set SPARK_HOME")
    return sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))


def runtime_classpath():
    return os.pathsep.join([CLASSES, RESOURCES] + spark_jars())


def _sources():
    return sorted(os.path.join(d, f) for r in SOURCES for d, _, fs in os.walk(r)
                  for f in fs if f.endswith(".scala"))


def source_digest():
    h = hashlib.sha256()
    for p in _sources() + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles unless the stamp matches; returns the source digest."""
    digest = source_digest()
    if os.path.isfile(CLASSES + "/graftbench/Main.class") and os.path.isfile(STAMP) \
            and open(STAMP).read() == digest:
        return digest
    jars = spark_jars()
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError("the Spark installation has no scala-compiler jar")
    out = CLASSES + ".tmp"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-d", out, "-classpath", os.pathsep.join(jars), "-nowarn"] + _sources()))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + TARGET,
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + args]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"built harness in {time.time() - t0:.1f} s", file=sys.stderr)
    return digest


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
