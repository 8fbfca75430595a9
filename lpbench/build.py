"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (lpbench/src) with the Scala compiler that ships in the
Spark distribution, into lpbench/.build/classes. The Spark jars are the
directory the engine's build.sbt names as `unmanagedBase` (or $SPARK_JARS).
The build is skipped when the sources' content hash matches the last
build's.

Usage: python3 lpbench/build.py        (prints the classes directory)
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
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    return engine + bench


def spark_jars():
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise SystemExit("build.sbt names no unmanagedBase; set SPARK_JARS")
    return found.group(1)


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return CLASSES
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"compile failed with code {done.returncode}")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
