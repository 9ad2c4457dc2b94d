#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/src) into
.perfbench/classes-<hash> with the Scala compiler that ships among the Spark
jars. A build whose sources are unchanged is reused.

The Spark jars are $SPARK_HOME/jars, or else the directory the engine's own
build.sbt names as `unmanagedBase`.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("no Spark jars: set SPARK_HOME or build.sbt unmanagedBase")
    return m.group(1)


def build(log=sys.stderr):
    """Returns the classpath of the built engine and harness."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    sources = engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    jars = spark_jars()
    classes = os.path.join(WORK, f"classes-{h.hexdigest()[:16]}")
    classpath = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(os.path.join(classes, ".done")):
        return classpath
    os.makedirs(WORK, exist_ok=True)
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(sources)} sources", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
