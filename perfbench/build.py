#!/usr/bin/env python3
"""Build for the benchmark: compiles the repository's main sources together
with the harness in perfbench/harness, using the Scala compiler that ships
among the jars the repository's build.sbt compiles against. The output goes
to <target>/classes, where <target> is $CARGO_TARGET_DIR or .bench_build.
A build whose inputs are unchanged is skipped. `build()` returns the
inputs' hash, which names the build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def target_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jar directory the repository's build.sbt compiles against (its `unmanagedBase`)."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath():
    return os.path.join(target_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("build: no Scala sources under src/main/scala (run from the repository root)")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build():
    srcs = sources()
    resources = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True) if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(spark_jars().encode())
    stamp = h.hexdigest()
    out = os.path.join(target_dir(), "classes")
    stamp_file = os.path.join(target_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(out):
        return stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false", "-d", tmp,
           "-classpath", os.path.join(spark_jars(), "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


if __name__ == "__main__":
    build()
