"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, with the Scala compiler that ships in the Spark jar
directory (see spark_jars). A stamp of the source contents skips an
up-to-date rebuild.

Usage: python3 perfbench/build.py   (from the repository root)
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    directory the repository's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark/Scala jars found (set SPARK_HOME)")
    return jars


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit("perfbench: program sources not found at %s" % prog)
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    return files


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-cp", cp,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
