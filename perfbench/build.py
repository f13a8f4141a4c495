"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM harness (perfbench/scala) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/classes.

The build is skipped when no source file changed since the last one (a
stamp of every source's path and content). It needs no network and no
build tool beyond the JDK and the Spark jars.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the one
    beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(":")
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        d = os.path.join(home, "jars")
        if glob.glob(os.path.join(d, f"scala-compiler-{SCALA_VERSION}.jar")):
            return d
    raise SystemExit(f"no Spark jar directory with scala-compiler-{SCALA_VERSION}.jar; "
                     "set SPARK_HOME")


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/scala"):
        found += sorted(glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True))
    if not any("/src/main/scala/" in s for s in found):
        raise SystemExit("no program sources under src/main/scala")
    return found


def classpath():
    """Build if needed; returns the runtime classpath and the stamp of the
    sources it was built from."""
    jars = spark_jars()
    srcs = sources()
    stamp = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        stamp.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            stamp.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = [classes, os.path.join(ROOT, "src/main/resources"), os.path.join(jars, "*")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp.hexdigest():
        return os.pathsep.join(cp), stamp.hexdigest()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                               for n in ("compiler", "library", "reflect"))
    lib = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
           "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", lib, "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp.hexdigest())
    return os.pathsep.join(cp), stamp.hexdigest()
