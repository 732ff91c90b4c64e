"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/classes`. A stamp over every source byte
skips the compile when nothing changed. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """The Spark jar directory the repository's build.sbt compiles against,
    else $SPARK_HOME/jars; it must hold the Scala compiler."""
    candidates = []
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit(f"perfbench: no Spark jar directory with a Scala compiler among {candidates}")


def sources():
    found = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for path in srcs:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Returns the classpath to run with, compiling first if needed."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"perfbench: no program sources under {PROGRAM_SRC}; "
                         "run from the repository root")
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    have = open(stamp_file).read().strip() if os.path.exists(stamp_file) else ""
    if have != want or not os.path.isdir(classes):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(BUILD, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("perfbench: compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(want + "\n")
    return os.pathsep.join([classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(build())
