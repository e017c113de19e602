"""Build file for the benchmark harness.

Compiles the repo's main sources together with the harness
(perfbench/harness/src) with the Scala compiler that ships in Spark's
jars, into a classes directory under the build directory. A stamp of every
source file's path and content makes a rebuild a no-op when nothing
changed. Nothing is written outside the build directory.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "harness", "src")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    """Spark's jars: those of SPARK_HOME, else the directory the repo's own
    build.sbt names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME to a Spark installation")
    return jars


def sources():
    if not os.path.isdir(PROGRAM):
        raise SystemExit(f"program sources not found at {PROGRAM}: run from a full checkout")
    found = []
    for base in (PROGRAM, HARNESS):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(build_dir):
    """Return the classes directory, compiling first if any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(spark_jars())
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit(f"compilation failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
