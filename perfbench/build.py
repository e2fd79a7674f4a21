#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program (src/main/scala)
and the benchmark program (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/perfbench/classes.

The build is skipped when a stamp over every source file and the jar list
matches the last build. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars() -> str:
    """Spark's jar directory: under $SPARK_HOME, else beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jar directory with a Scala compiler: set SPARK_HOME")


def sources(root: str) -> list:
    main = os.path.join(root, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise SystemExit(f"{root} holds no program sources (src/main/scala)")
    if glob.glob(os.path.join(main, "java", "**", "*.java"), recursive=True):
        raise SystemExit("src/main/java exists; this build compiles Scala only")
    files = glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root: str) -> str:
    """Returns the classes directory, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources(root)
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
