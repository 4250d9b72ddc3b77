"""Build file of the benchmark package.

Compiles the library (`src/main/scala` of the checkout) and the benchmark
harness (`perfbench/harness`) with the Scala compiler that ships in the
Spark distribution's `jars/` directory, into `.bench_build/classes`.
Nothing outside the checkout is written. A stamp over the source contents
skips the compile when nothing changed.

Run directly to build: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("build: no Spark distribution with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                        "*.scala"), recursive=True))
    if not lib:
        sys.exit("build: no library sources under src/main/scala")
    return lib + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles if the sources changed; returns the run classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.exit("build: scalac failed\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
