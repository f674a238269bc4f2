"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in Spark's jars, into <out>/classes-<source hash>.
A build is reused while no source file changes.

    python3 perfbench/build.py [out-dir]     # default .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repo's build.sbt passes to forked runs).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars(root):
    """Spark's jars: the directory the repo's build.sbt names as
    unmanagedBase, so the benchmark builds against what sbt builds against."""
    with open(os.path.join(root, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    return os.path.join(jars, "*")


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root, out):
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(out, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".built")):
        return classes
    os.makedirs(out, exist_ok=True)
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars(root)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.exit("perfbench: build failed")
    open(os.path.join(classes, ".built"), "w").close()
    return classes


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
