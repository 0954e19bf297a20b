"""Build file of the benchmark: compiles the graft library and the
benchmark harness from source with the Scala compiler that ships with
Spark, into `.bench_build/classes-<hash>` under the repository root.

The hash covers every source file, so an unchanged tree reuses its
classes and any edit rebuilds. Usage: `python3 perfbench/build.py`
from the repository root; `run.py` calls `build()` itself.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"
LIB_DIRS = ["src/main/scala", "src/main/java"]
BENCH_DIR = "perfbench/src"


def sources(root):
    out = []
    for d in LIB_DIRS + [BENCH_DIR]:
        for ext in ("scala", "java"):
            out += glob.glob(os.path.join(root, d, "**", f"*.{ext}"),
                             recursive=True)
    return sorted(out)


def source_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jars(root):
    """The Spark jars directory: `$SPARK_HOME/jars`, else the one the
    repository's own build compiles against (`unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def classpath(root, classes):
    return f"{classes}{os.pathsep}{spark_jars(root)}/*"


def build(root, log=sys.stderr):
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError(f"no library sources under {root}/src/main/scala")
    files = sources(root)
    classes = os.path.join(root, ".bench_build",
                           f"classes-{source_hash(root, files)}")
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars(root)
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
        for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(classes, ".scalac-args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", f"{jars}/*", "@" + args_file],
        check=True, stdout=log, stderr=log)
    java = [f for f in files if f.endswith(".java")]
    if java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-d",
                        classes, "-cp", classpath(root, classes)] + java,
                       check=True, stdout=log, stderr=log)
    open(os.path.join(classes, ".done"), "w").close()
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
