"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (`src/main/scala`) and the benchmark's own
(`perfbench/scala`) are compiled together with the Scala compiler that
ships in the Spark distribution, against the Spark jars, into
`.bench_build/perfbench/<source hash>/`. A build whose source hash is
already there is reused.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA_VERSION = "2.13.17"
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")
OUT_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars_dir():
    """The Spark jars the program builds against: `$SPARK_HOME/jars`, else
    the `unmanagedBase` the repository's build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("set SPARK_HOME to a Spark distribution")
    return m.group(1)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars under {spark_jars_dir()}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise RuntimeError(f"program sources not found at {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def resources():
    found = []
    for d, _, files in os.walk(PROGRAM_RES):
        found += [os.path.join(d, f) for f in files]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles if needed and returns (class dir, source hash)."""
    srcs = sources()
    res = resources()
    digest = source_hash(srcs + res)
    out = os.path.join(OUT_ROOT, digest)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    jar = lambda name: os.path.join(spark_jars_dir(), f"{name}-{SCALA_VERSION}.jar")
    compiler_cp = os.pathsep.join(jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(spark_classpath()), "-d", classes,
           "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise RuntimeError("compilation failed")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(out, "OK"), "w") as fh:
        fh.write(digest)
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
