#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (etlbench/scala) into one
class directory, with the plain Scala compiler that ships among the Spark
jars. A stamp over every source's path and bytes skips the compile when
nothing changed.

Usage: python3 etlbench/build.py [build_dir]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


class BuildError(Exception):
    pass


def jars_dir():
    """The Spark jar directory the program's build file names
    (`unmanagedBase := file("...")`)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("build.sbt does not name the Spark jar directory")
    return m.group(1)


def sources():
    """Program sources first, then the benchmark's; both must exist."""
    def scala_under(d):
        out = []
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
        return sorted(out)
    program = scala_under(os.path.join(ROOT, "src", "main", "scala"))
    bench = scala_under(os.path.join(BENCH, "scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under etlbench/scala")
    return program + bench


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    """Runtime class path: compiled classes, the program's resources, Spark."""
    return os.pathsep.join([os.path.join(build_dir, "classes"),
                            os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(jars_dir(), "*")])


def build(build_dir):
    files = sources()
    jars = jars_dir()
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jar directory {jars} not found")
    stamp = source_digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return stamp
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging,
           "@" + argfile]
    # scalac puts its working directory on the class path; the build
    # directory holds no package-shaped directories that could shadow one
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, cwd=build_dir)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return stamp


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    try:
        print("built", build(os.path.abspath(out)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
