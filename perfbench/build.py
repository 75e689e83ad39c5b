#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala` of the
checkout) together with the benchmark's own sources (`perfbench/src`) using
the Scala compiler that ships in the Spark distribution, into
`.bench_build/classes-<hash>`. The hash covers every source file, so an
unchanged tree is not rebuilt.

    python3 perfbench/build.py     # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: no engine sources at {engine}")
    found = []
    for base in (engine, os.path.join(BENCH, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    """The Spark jars, from the directory the repo's build.sbt names as its
    `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase")
    return os.path.join(m.group(1), "*")


def build(quiet=False):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", classpath(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
