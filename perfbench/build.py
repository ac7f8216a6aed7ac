#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) into one class directory with the Scala compiler that
ships in the Spark jars directory (the one build.sbt uses). No network,
no sbt.

  python3 perfbench/build.py            # build into .bench_build/classes

The build is skipped when a stamp of every source file's path and
content matches the previous build. Run it from the repository root.
"""
import hashlib
import os
import re
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
BENCH_SRC = "perfbench/src"


def spark_jars() -> str:
    """The Spark jars directory: the one the repository's build.sbt names
    as `unmanagedBase`, else $SPARK_HOME/jars."""
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("build: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def build_dir() -> str:
    # CARGO_TARGET_DIR, when set, names the build directory for every
    # language, not only Rust.
    return os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources() -> list:
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {root} is missing")
        for d, _, names in os.walk(root):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not out:
        raise SystemExit("build: no Scala sources found")
    return sorted(out)


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build() -> str:
    """Compiles if needed; returns the class directory."""
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    files = sources()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    want = stamp(files)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return out
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", out] + files
    print(f"build: compiling {len(files)} sources into {out}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    print(build())
