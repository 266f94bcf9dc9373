#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) with the
Scala compiler that ships in Spark's jars, into `<build dir>/classes`.

Usage: python3 perfbench/build.py   (from the repository root)

The build dir is `$CARGO_TARGET_DIR` when set, else `.bench_build`. A build
is skipped when a stamp of every source file's path, size and mtime matches
the previous one.
"""
import glob
import hashlib
import os
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"build: no engine sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return main + harness


def classpath(root):
    return os.path.join(build_dir(root), "classes") + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(root):
    srcs = sources(root)
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(build_dir(root), "classes.stamp")
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{os.path.relpath(s, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    os.makedirs(out, exist_ok=True)
    for old in glob.glob(os.path.join(out, "**/*.class"), recursive=True):
        os.remove(old)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    build(os.getcwd())
    print(classpath(os.getcwd()))
