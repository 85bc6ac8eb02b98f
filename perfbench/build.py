#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources, then the
benchmark's own Scala sources against them, with the Scala compiler that
ships among the Spark jars. No sbt: its logged `run` output prefixes lines,
and its caches live outside the checkout.

Outputs go under the build directory (CARGO_TARGET_DIR if set, else
`.bench_build`, relative to the checkout root):
    classes/graft   graft's compiled main sources
    classes/bench   the benchmark program
Each half is rebuilt only when a hash of its inputs changes.

Usage: python3 perfbench/build.py        (from the checkout root)
"""
import hashlib
import os
import re
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The Spark jar directory graft's own build compiles against: the
    `unmanagedBase` named in build.sbt."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"build.sbt not found at {sbt}; run from a checkout root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing Spark jar directory (unmanagedBase)")
    return m.group(1)


def jar_classpath(jars):
    return [os.path.join(jars, n) for n in sorted(os.listdir(jars)) if n.endswith(".jar")]


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, sources, out, log):
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if re.match(r"(scala-(compiler|library|reflect)|jline-3)", n)]
    os.makedirs(out, exist_ok=True)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", out, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BuildError(f"scalac failed for {out} (log: {log})")


def build():
    """Returns the runtime classpath (list of entries) of the benchmark."""
    if not os.path.isdir(GRAFT_SRC):
        raise BuildError(f"graft sources not found at {GRAFT_SRC}; run from a checkout root")
    jars = spark_jars()
    cp = jar_classpath(jars)
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    graft_classes = os.path.join(bdir, "classes", "graft")
    steps = [("graft", GRAFT_SRC, cp), ("bench", BENCH_SRC, cp + [graft_classes])]
    prev_hash = ""
    for name, src, classpath in steps:
        out = os.path.join(bdir, "classes", name)
        sources = scala_sources(src)
        digest = tree_hash(sources, prev_hash + "|".join(os.path.basename(j) for j in cp))
        stamp = out + ".stamp"
        if not (os.path.isfile(stamp) and open(stamp).read() == digest):
            print(f"[build] compiling {name} ({len(sources)} files)", file=sys.stderr)
            t0 = time.time()
            if os.path.exists(stamp):
                os.remove(stamp)
            subprocess.run(["rm", "-rf", out], check=True)
            scalac(jars, classpath, sources, out, out + ".log")
            with open(stamp, "w") as f:
                f.write(digest)
            print(f"[build] {name} done in {time.time() - t0:.1f} s", file=sys.stderr)
        prev_hash = digest
    return [os.path.join(bdir, "classes", "bench"), graft_classes] + cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
