#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
and the benchmark's own sources (perfbench/src) with the Scala compiler
that ships among Spark's jars, so no dependency is resolved or fetched.

    python3 perfbench/build.py        # from the repository root

Classes land in .bench_build/graft-classes and .bench_build/bench-classes.
Each half carries a stamp of its sources' hashes and is rebuilt only when
they change.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: cannot find Spark's jars (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, jars, depends=""):
    """Compiles `srcs` into .bench_build/<name> unless its stamp (sources,
    classpath and the stamp of what it `depends` on) is unchanged; returns
    (directory, stamp)."""
    dest = os.path.join(OUT, name)
    st = stamp(srcs, classpath + depends)
    stamp_file = dest + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return dest, st
    if not srcs:
        raise SystemExit(f"build: no sources for {name}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    args_file = dest + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", classpath, "@" + args_file]
    print(f"build: compiling {len(srcs)} files into {os.path.relpath(dest, ROOT)}",
          file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(st)
    return dest, st


def build():
    """Compiles what changed; returns the run classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise SystemExit("build: graft's sources (src/main/scala) are not here")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    graft, graft_stamp = compile_tree("graft-classes", sources(graft_src), jar_cp, jars)
    bench_src = os.path.join(ROOT, "perfbench", "src")
    bench, _ = compile_tree("bench-classes", sources(bench_src),
                            os.pathsep.join([graft, jar_cp]), jars, graft_stamp)
    return os.pathsep.join([bench, graft, jar_cp])


if __name__ == "__main__":
    print(build())
