"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark's client (sqlbench/scala) with the
Scala compiler that ships in the Spark distribution, so no build tool and
no dependency resolution is needed.

    python3 sqlbench/build.py        # prints the classes directory

Output goes to .bench_build/sqlbench/classes in the checkout; a stamp of
the sources' hash skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spark_jars():
    """The Spark jars the program builds against: the `unmanagedBase` the
    project's build.sbt declares, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build: no unmanagedBase in build.sbt and SPARK_HOME is not set")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"build: program sources not found at {prog}")
    files = []
    for top in (prog, os.path.join(BENCH, "scala")):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, ".bench_build", "sqlbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
