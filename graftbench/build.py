#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own sources (graftbench/src) with the Scala compiler that ships
in the Spark distribution: $SPARK_HOME/jars, or else the `unmanagedBase`
directory the repository's build.sbt compiles against. The classes land in
.bench_build/graftbench/<source hash>/classes under the repository root; a
build whose sources are unchanged is reused.

    python3 graftbench/build.py      # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("set SPARK_HOME: no Spark jars directory known")
    return m.group(1)


def sources():
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()[:16]


def build():
    """Return the classes directory, compiling first if needed."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "cli", "Main.scala")):
        raise RuntimeError("engine sources not found under " + ENGINE_SRC)
    files = sources()
    target = os.path.join(OUT, source_hash(files))
    classes = os.path.join(target, "classes")
    if os.path.isfile(os.path.join(target, "DONE")):
        return classes
    if os.path.isdir(OUT):  # earlier builds of other sources
        shutil.rmtree(OUT)
    tmp = target + ".tmp-%d" % os.getpid()
    os.makedirs(os.path.join(tmp, "classes"))
    os.makedirs(os.path.join(tmp, "jvmtmp"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-Djava.io.tmpdir=" + os.path.join(tmp, "jvmtmp"),
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", os.path.join(tmp, "classes"), "-classpath", jars, "@" + argfile]
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=850)
        shutil.rmtree(os.path.join(tmp, "jvmtmp"))
        os.rename(tmp, target)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    with open(os.path.join(target, "DONE"), "w") as fh:
        fh.write("ok\n")
    return classes


if __name__ == "__main__":
    print(build())
