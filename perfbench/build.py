"""Build file of the benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/scala`) into one class directory, using the
Scala compiler that ships among the Spark jars the project builds against
(`unmanagedBase` in the root `build.sbt`, or `$SPARK_HOME/jars`). No sbt
and no network: the same jars are the runtime classpath. The result is
reused while no source file changed.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark (and Scala) jars the program is built on."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt at the checkout root: not a graft checkout")
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase; set SPARK_HOME")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars in {d}")
    return d


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(roots[0]):
        raise BuildError("no src/main/scala: the program's sources are missing")
    return sorted(os.path.join(d, f) for r in roots for d, _, fs in os.walk(r)
                  for f in fs if f.endswith(".scala"))


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.*.jar")) for p in
                ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler jars in {jars}")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes
