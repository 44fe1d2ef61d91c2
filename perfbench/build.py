#!/usr/bin/env python3
"""Builds the benchmark from source: the graft library (src/main/scala) and
the harness (perfbench/harness), compiled with the Scala compiler that ships
in $SPARK_HOME/jars into .bench_build/perfbench/ and packed into jars (the
JVM's class-data archive, made by run.py, takes classes only from jars). A
build is cached under a hash of its sources, so an unchanged tree skips
compilation.

Run standalone from the repository root: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD = os.path.join(".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; it must point at a Spark 4 install")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {root}")
    return found


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_into(out, srcs, classpath, log):
    """Compiles into a fresh directory, then renames it into place, so an
    interrupted build never leaves a half-filled cache entry."""
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath, "@" + args]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise BuildError(f"scalac failed ({rc}):\n{tail}")
    os.remove(args)
    os.rename(tmp, out)


def pack(classes):
    """Packs a compiled class directory into a jar beside it (once)."""
    jar = classes + ".jar"
    if not os.path.isfile(jar):
        tmp = jar + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
            for root, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, classes))
        os.rename(tmp, jar)
    return jar


def ensure_built(repo="."):
    """Returns the runtime classpath, compiling whatever is out of date."""
    lib_root = os.path.join(repo, "src", "main", "scala")
    harness_root = os.path.join(repo, "perfbench", "harness")
    jars = spark_jars()
    lib_srcs = sources(lib_root)
    harness_srcs = sources(harness_root)
    build = os.path.join(repo, BUILD)
    os.makedirs(build, exist_ok=True)
    lib_hash = digest(lib_srcs)
    lib_out = os.path.abspath(os.path.join(build, "lib-" + lib_hash))
    compile_into(lib_out, lib_srcs, os.path.join(jars, "*"), os.path.join(build, "lib-build.log"))
    h_out = os.path.abspath(os.path.join(build, "harness-" + digest(harness_srcs, lib_hash)))
    compile_into(h_out, harness_srcs, os.pathsep.join([lib_out, os.path.join(jars, "*")]),
                 os.path.join(build, "harness-build.log"))
    return os.pathsep.join([pack(h_out), pack(lib_out), os.path.join(jars, "*")]), lib_hash


if __name__ == "__main__":
    try:
        cp, lib_hash = ensure_built()
    except BuildError as e:
        print(f"perfbench build failed: {e}", file=sys.stderr)
        sys.exit(1)
    print(cp)
