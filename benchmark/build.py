#!/usr/bin/env python3
"""Builds the library and the benchmark with the Scala compiler that ships
in Spark's jars directory (the same jars the library's build.sbt compiles
against), so no build tool has to resolve anything. The jars directory is
$SPARK_HOME/jars, or else the `unmanagedBase` that build.sbt names.

Two class directories are kept under the build directory, each with a
fingerprint of its sources: the library (src/main/scala) and the
benchmark (benchmark/src, compiled against the library). A directory is
rebuilt only when its fingerprint changes.

    python3 benchmark/build.py [BUILD_DIR]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME to a Spark 4 installation")
    return m.group(1)


def build_dir():
    return os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))


def _sources(src):
    out = []
    for d, _, files in os.walk(src):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _fingerprint(sources, salt):
    h = hashlib.sha256(salt.encode())
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(src, out, classpath, salt):
    sources = _sources(src)
    if not sources:
        raise SystemExit(f"build: no sources under {src}")
    stamp = os.path.join(out, ".fingerprint")
    fp = _fingerprint(sources, salt)
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed on {src} (exit {r.returncode})")
    with open(os.path.join(tmp, ".fingerprint"), "w") as fh:
        fh.write(fp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return True


def build(bdir=None):
    """Compiles what changed; returns the runtime classpath."""
    bdir = bdir or build_dir()
    jars = os.path.join(spark_jars(), "*")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"build: Spark jars not found at {spark_jars()} (set SPARK_HOME)")
    lib = os.path.join(bdir, "lib-classes")
    bench = os.path.join(bdir, "bench-classes")
    _compile(LIB_SRC, lib, [jars], "")
    # the benchmark is recompiled whenever the library changes
    _compile(BENCH_SRC, bench, [lib, jars], open(os.path.join(lib, ".fingerprint")).read())
    return [bench, lib, jars]


if __name__ == "__main__":
    print(os.pathsep.join(build(sys.argv[1] if len(sys.argv) > 1 else None)))
