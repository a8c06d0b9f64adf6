#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the harness
(perfbench/src) into <out>/classes, using the Scala compiler that ships
in the Spark distribution the program builds against (the same jar set
build.sbt's `unmanagedBase` names). A content hash of every source file
is stored beside the classes; an unchanged tree is not rebuilt.

Usage (from the repository root):  python3 perfbench/build.py [out_dir]
Prints the classes directory on success; exits non-zero on failure.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory build.sbt's `unmanagedBase` names."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root, out_dir):
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read().strip() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return classes, digest


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else ".bench_build"
    print(build(os.getcwd(), os.path.abspath(out))[0])
