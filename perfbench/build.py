#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (`src/main/scala`) and the
benchmark harness (`perfbench/src`) in one scalac pass against the Spark
jars, into `.perfbench/build/classes`.

The Spark jar directory is `$SPARK_HOME/jars`, or else the
`unmanagedBase` that the repo's `build.sbt` declares; the Scala compiler
is the one shipped among those jars. A build is reused while the
sources, the jar directory and the Java version are unchanged.

Usage (from the repo root):  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".perfbench", "build")


class BuildError(Exception):
    pass


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("no graft sources under src/main/scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                              recursive=True))
    return files


def java_version():
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return out.stderr.strip()


def build(root="."):
    """Returns (classes dir, jar dir), compiling when needed."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    h.update(jars.encode())
    h.update(java_version().encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + (res.stdout + res.stderr)[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(".")[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
