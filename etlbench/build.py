#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (etlbench/scala) into one class
directory with the Scala compiler that ships in Spark's jar directory.

The output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root and is reused while no source file changed.

Usage: python3 etlbench/build.py   (prints the class directory)
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


def spark_jars():
    """Spark's jars: the directory build.sbt names as its unmanagedBase, so
    the benchmark links what the sbt build does; else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            d = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        if "SPARK_HOME" not in os.environ:
            raise SystemExit("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"no Spark jars with a Scala compiler in {d}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    srcs = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            raise SystemExit(f"missing source directory {base}")
        for dirpath, _, files in os.walk(base):
            srcs += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(srcs)


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()[:16]
    out = os.path.join(build_dir(), f"classes-{stamp}")
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = ":".join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
