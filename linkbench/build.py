#!/usr/bin/env python3
"""Build file of the linkage benchmark.

Compiles the program (`src/main/scala`) and the benchmark
(`linkbench/src`) into one class directory with the Scala compiler that
ships in the Spark distribution's jars (`$SPARK_HOME/jars`, or else the
directory `build.sbt` names as `unmanagedBase`). The output goes to
`$CARGO_TARGET_DIR/linkbench`
(default `.bench_build/linkbench`) under the checkout root. A stamp of
the sources' digest skips the build when nothing changed.

    python3 linkbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, or else the jar directory `build.sbt` names as
    its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("SPARK_HOME is not set and build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not bench:
        raise BuildError(f"no benchmark sources under {os.path.join(HERE, 'src')}")
    return program + bench


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "linkbench")


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the class directory, compiling first if the sources changed."""
    jars = spark_jars()
    files = sources()
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    want = digest(files)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"[linkbench] compiling {len(files)} sources", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if r.returncode != 0:
        raise BuildError(f"compile failed with code {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[linkbench] build: {e}", file=sys.stderr)
        sys.exit(2)
