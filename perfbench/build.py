#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src) into .bench_build/classes with
the Scala compiler that ships in the Spark jar directory.

    python3 perfbench/build.py

The Spark jar directory is $SPARK_HOME/jars, else the `unmanagedBase` the
root build.sbt names. A build is skipped when the sources are unchanged
since the last one (a hash of every source file is kept next to the
classes). Exits non-zero, printing why, when any source root is missing.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("build: no Spark jar directory (set SPARK_HOME)")


def sources(root, suffix):
    found = []
    for d, _, names in os.walk(root):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    for root in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            sys.exit(f"build: missing source root {root} (run from the repository root)")
    files = sources(ENGINE_SRC, ".scala") + sources(BENCH_SRC, ".scala")
    resources = sources(ENGINE_RES, "") if os.path.isdir(ENGINE_RES) else []
    digest = hashlib.sha256()
    for p in files + resources:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + args_file]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed ({r.returncode})")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return stamp


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    build()
