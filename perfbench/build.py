#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

    python3 perfbench/build.py            # build (no-op when up to date)
    python3 perfbench/build.py --force    # rebuild both stages

Run from the repository root. Two stages, each skipped when a content
hash of its inputs matches the stamp left by its last build:

  1. the program: every file under src/main/scala, compiled with the
     Scala compiler that ships in the Spark distribution's jars dir;
  2. the harness: perfbench/harness/*.scala, compiled against stage 1.

Outputs go to $CARGO_TARGET_DIR (default .bench_build) in the current
directory. `classpath()` returns the runtime class path.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _jar(prefix):
    hits = sorted(glob.glob(os.path.join(SPARK_JARS, prefix + "-2.13.*.jar")))
    if not hits:
        raise BuildError(f"no {prefix} jar under {SPARK_JARS}")
    return hits[-1]


def _sources(root, exts=(".scala", ".java")):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _compile(sources, out_dir, cp, log):
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    compiler_cp = ":".join(_jar(p) for p in
                           ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", cp, "@" + argfile]
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise BuildError(f"compile failed ({log}):\n{tail}")


def _stage(name, sources, cp, force, extra=""):
    bdir = build_dir()
    out = os.path.join(bdir, name)
    stamp = out + ".stamp"
    want = _digest(sources, cp + extra)
    if not force and os.path.isdir(out) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == want:
                return out, False
    t0 = time.time()
    _compile(sources, out, cp, out + ".log")
    with open(stamp, "w") as f:
        f.write(want + "\n")
    print(f"[perfbench] built {name} ({len(sources)} files) in "
          f"{time.time() - t0:.1f}s", file=sys.stderr)
    return out, True


def classpath(root="."):
    return ":".join([os.path.join(build_dir(), "harness"),
                     os.path.join(build_dir(), "program"),
                     os.path.abspath(os.path.join(root, "src/main/resources")),
                     os.path.join(SPARK_JARS, "*")])


def build(root=".", force=False):
    prog_src = _sources(os.path.join(root, "src/main/scala"))
    if not prog_src:
        raise BuildError("no program sources under src/main/scala "
                         "(run from the repository root)")
    harness_src = _sources(os.path.join(HERE, "harness"))
    os.makedirs(build_dir(), exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    prog, rebuilt = _stage("program", prog_src, spark_cp, force)
    # the harness stamp covers the program stamp, so a program change
    # recompiles the harness against it
    with open(prog + ".stamp") as f:
        prog_stamp = f.read()
    _stage("harness", harness_src, prog + ":" + spark_cp,
           force or rebuilt, extra=prog_stamp)
    return classpath(root)


if __name__ == "__main__":
    try:
        build(force="--force" in sys.argv[1:])
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
