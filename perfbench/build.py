#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark driver in perfbench/src, with the Scala compiler that ships
in the Spark jar directory the library builds against. No sbt, no network.

    python3 perfbench/build.py        # prints the runtime classpath

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the repo
root; a stamp of every source's content skips an unchanged rebuild.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spark_jars():
    """The jar directory graft's build.sbt names (unmanagedBase), else
    $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise SystemExit("perfbench: graft's sources (src/main/scala) are missing")
    out = []
    for base in (lib, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if any source changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(target, "perfbench-classes")
    stamp_file = os.path.join(target, "perfbench.stamp")
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(target, "perfbench-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jar_cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jar_cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
