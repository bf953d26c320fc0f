#!/usr/bin/env python3
"""Builds the program (src/main/scala) and the benchmark harness
(perfbench/scala) from source into .bench_build/, with the Scala
compiler that ships in the Spark distribution. The jars are
$SPARK_HOME/jars when SPARK_HOME is set, else the `unmanagedBase`
directory build.sbt compiles against. No sbt and no network: the
classpath is Spark's own jars.

A build is skipped when a stamp of every source file and the jar list
matches the last one. Usage: python3 perfbench/build.py (from the root
of a checkout); compiler output goes to stderr.
"""

import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = (root / "build.sbt").read_text()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("build.sbt names no unmanagedBase; set SPARK_HOME")
        jars = pathlib.Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def _sources(root):
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((root / "perfbench" / "scala").rglob("*.scala"))
    if not program:
        raise SystemExit(f"no program sources under {root / 'src/main/scala'}")
    return program, harness


def _stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode() + b"\0")
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    out.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath] + [str(f) for f in files]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build(root):
    """Builds if needed; returns the runtime classpath and the stamp of
    what was built."""
    root = pathlib.Path(root).resolve()
    jars = spark_jars(root)
    program, harness = _sources(root)
    out = root / BUILD_DIR
    graft, bench = out / "graft", out / "harness"
    classpath = f"{graft}:{bench}:{jars}/*"
    stamp = _stamp(root, program + harness, jars)
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath, stamp
    print("[perfbench] building the program and the harness", file=sys.stderr)
    tmp = out / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _scalac(jars, f"{jars}/*", tmp / "graft", program)
    _scalac(jars, f"{tmp / 'graft'}:{jars}/*", tmp / "harness", harness)
    for d in (graft, bench):
        shutil.rmtree(d, ignore_errors=True)
        (tmp / d.name).rename(d)
    shutil.rmtree(tmp)
    stamp_file.write_text(stamp)
    return classpath, stamp


if __name__ == "__main__":
    build(pathlib.Path.cwd())
