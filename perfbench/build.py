#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the program (``src/main/scala`` at the root of the checkout) and the
benchmark (``perfbench/src``) with the Scala compiler that ships in the Spark
distribution (``$SPARK_HOME/jars``), so the build needs no dependency
resolution and writes only under ``.bench_build/`` in the checkout.

    python3 perfbench/build.py   # build if a source, the Spark jars or the JDK changed

Prints the classpath of the result as its last line. Exits non-zero when the
program sources or the Spark jars are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench build: SPARK_HOME must point at a Spark 4 distribution")
    return jars


def toolchain_digest(jars):
    """Names and sizes of the Spark jars and the JDK's location: a change
    of either invalidates the build."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(f"{name}:{os.path.getsize(os.path.join(jars, name))}\n".encode())
    h.update(os.path.realpath(shutil.which("java") or "java").encode())
    return h.hexdigest()


def sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, out, classpath):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)


def stage(name, srcs, classpath, extra_digest=""):
    """Compile ``srcs`` into .bench_build/<name> unless its stamp matches."""
    out = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    want = digest(srcs) + extra_digest
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return out, want
    if os.path.exists(stamp):
        os.remove(stamp)
    print(f"perfbench build: compiling {len(srcs)} files into {out}", file=sys.stderr)
    scalac(srcs, out, classpath)
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


def build():
    jar_dir = spark_jars()
    jars = os.path.join(jar_dir, "*")
    program = sources(PROGRAM_SRC)
    if not program:
        sys.exit("perfbench build: no program sources under src/main/scala")
    os.makedirs(OUT, exist_ok=True)
    main_out, main_digest = stage("program", program, jars, toolchain_digest(jar_dir))
    if os.path.isdir(PROGRAM_RES):
        shutil.copytree(PROGRAM_RES, main_out, dirs_exist_ok=True)
    bench_out, _ = stage("bench", sources(BENCH_SRC),
                         os.pathsep.join([main_out, jars]), main_digest)
    return os.pathsep.join([bench_out, main_out, jars])


if __name__ == "__main__":
    print(build())
