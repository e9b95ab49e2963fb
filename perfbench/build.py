"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's own JVM code (`perfbench/src/main/scala`)
into one class directory, with the Scala compiler and Spark jars of the
local Spark installation ($SPARK_HOME, else the jar directory the
repository's build.sbt uses). Rebuilds only when a source file changed.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME/jars, else the
    directory the engine's own build.sbt names as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return found.group(1)


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def sources():
    return (_files(os.path.join(ROOT, "src", "main", "scala"), ".scala")
            + _files(os.path.join(BENCH, "src", "main", "scala"), ".scala"))


def resources():
    return _files(os.path.join(ROOT, "src", "main", "resources"))


def build():
    """Returns the class directory, compiling first if a source changed."""
    srcs, res = sources(), resources()
    digest = hashlib.sha256()
    for path in srcs + res:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(WORK, "classes.stamp")
    classes = os.path.join(WORK, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(WORK, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for path in res:
        dst = os.path.join(classes, os.path.relpath(path, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(path, dst)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
