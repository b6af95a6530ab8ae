"""Build file of the benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (bench/src) into .bench_build/classes, using the
Scala compiler that ships in Spark's jars: $SPARK_HOME/jars, else the jar
directory build.sbt compiles the program against (its unmanagedBase).
A build whose sources hash to the last build's stamp is skipped.

Usage, from the repository root:  python3 bench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")


BUILD_DIR = ".bench_build"


def spark_classpath():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("bench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return os.path.join(m.group(1), "*")


def sources():
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if the sources changed; return the classes directory."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit("bench: no program sources under src/main/scala/graft; "
                 "run from the repository root")
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
         "-cp", spark_classpath(), "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp", "-d", classes] + srcs,
        stdout=sys.stderr).returncode
    if rc != 0:
        sys.exit("bench: compilation failed (%d)" % rc)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
