#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes, with the Scala compiler that ships among the Spark
jars. The Spark jar directory is the one the repo's build.sbt names as
`unmanagedBase` (else $SPARK_HOME/jars). A stamp of every source skips the
compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def jar_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError("program sources not found: src/main/scala")
    out = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compiler_jars(jars):
    names = sorted(os.listdir(jars))
    picked = []
    for lib in ("scala-compiler", "scala-library", "scala-reflect"):
        hit = [n for n in names if n.startswith(lib + "-") and n.endswith(".jar")]
        if not hit:
            raise BuildError(f"{lib} jar not found in {jars}")
        picked.append(os.path.join(jars, hit[-1]))
    return picked


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath."""
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler_jars(jars)), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs
    p = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if p.returncode != 0:
        raise BuildError(f"scalac exited with {p.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
