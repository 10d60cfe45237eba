#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the benchmark's own
code (perfbench/scala) into one class directory with the Scala compiler
that ships in the Spark distribution's jar directory. No sbt, no network: the
only inputs are the checkout's sources and the Spark jars.

    python3 perfbench/build.py            # from the checkout root

The class directory lives under $CARGO_TARGET_DIR (default .bench_build) and
is rebuilt only when a source file, the compiler or the options change.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME must name the Spark installation")
    return Path(home) / "jars"


def build_dir(root):
    return (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def sources(root):
    dirs = [root / "src" / "main" / "scala", root / "perfbench" / "scala"]
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d}")
    files = []
    for d in dirs:
        files += sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java"))
    return files


def classpath():
    jars = sorted(spark_jars_dir().glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no jars under {spark_jars_dir()}")
    return jars


def build(root):
    """Compile if needed; return the classpath (list of str) to run with."""
    root = Path(root).resolve()
    out = build_dir(root)
    classes = out / "classes"
    srcs = sources(root)
    jars = classpath()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    h.update(" ".join(SCALAC_OPTS).encode())
    stamp = h.hexdigest()
    stamp_file = out / "classes.stamp"
    cp = [str(classes)] + [str(j) for j in jars]
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    compiler = [str(j) for j in jars
                if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", *SCALAC_OPTS, "-d", str(classes),
           "-classpath", os.pathsep.join(str(j) for j in jars), "@" + str(argfile)]
    print(f"build: compiling {len(srcs)} sources into {classes}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    build(Path.cwd())
