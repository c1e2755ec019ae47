"""Build file of the nightly-DAG benchmark.

Compiles the program (`src/main/scala` at the repository root) together
with the benchmark's own sources (`dagbench/src`) with the Scala compiler
that ships among the Spark jars the program's build.sbt compiles against,
into `.bench_build/dagbench/<content hash>/classes`. A build whose sources hash to an existing
complete output directory is reused, so only the first run in a checkout
compiles.

    python3 dagbench/build.py          # build (or reuse) and print the dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "dagbench")


class BuildError(Exception):
    pass


def sources():
    """Every .scala file of the program and the benchmark, sorted."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources to compile")
    return sorted(out)


def spark_jars():
    """The jar directory the program's build.sbt compiles against
    (`unmanagedBase`); SPARK_JARS overrides it."""
    path = os.environ.get("SPARK_JARS")
    if not path:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no unmanagedBase in build.sbt and SPARK_JARS is unset")
        path = m.group(1)
    if not os.path.isdir(path):
        raise BuildError(f"Spark jars not found at {path}")
    return path


def classpath():
    return os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_ROOT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "COMPLETE")):
        return classes
    # one build per checkout: outputs of older sources go
    for d in os.listdir(BUILD_ROOT) if os.path.isdir(BUILD_ROOT) else []:
        if re.fullmatch(r"[0-9a-f]{16}", d):
            shutil.rmtree(os.path.join(BUILD_ROOT, d), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath(), "@" + argfile]
    print(f"[dagbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    open(os.path.join(out, "COMPLETE"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[dagbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
