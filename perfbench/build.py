#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (src/main/scala, plus src/main/resources)
together with the benchmark's own sources (perfbench/src) into one class
directory with the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars, else the directory build.sbt uses), so neither sbt nor
a network is needed. The output goes to $CARGO_TARGET_DIR (default
.bench_build) under the checkout root; a stamp of the source contents makes
a second build of unchanged sources a no-op.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt's unmanagedBase names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jar directory at '{jars}' (set SPARK_HOME)")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(os.path.join(ROOT, "src", "main")) for p in out):
        raise BuildError("graft sources (src/main/scala) not found next to perfbench/")
    for dirpath, _, files in os.walk(RESOURCES):
        out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the class directory."""
    files = sources()
    srcs = [p for p in files if p.endswith(".scala")]
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir(), "classes")
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[graftbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={build_dir()}", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    # service registrations (the "graft" data source short name) ride along
    for p in files:
        if p.startswith(RESOURCES + os.sep):
            dst = os.path.join(tmp, os.path.relpath(p, RESOURCES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
