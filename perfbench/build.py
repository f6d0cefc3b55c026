"""Build file of the benchmark: compiles the project's main sources together
with the benchmark's JVM side (`perfbench/scala`) into
`.bench_build/perfbench/classes`, using the Scala compiler that ships in
Spark's jar directory. No dependency resolution and no sbt are needed.

    python3 perfbench/build.py      # (re)build from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "built.ok")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark on PATH, that
    ship a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars with a Scala compiler "
                     "(set SPARK_HOME)")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"perfbench: project sources not found under {main}")
    files = []
    for base in (main, os.path.join(HERE, "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def inputs_key(files, jars):
    """Hash of everything a build reads: each source's path and bytes, and
    the compiler's jar directory."""
    h = hashlib.sha256(os.path.abspath(jars).encode())
    for path in files:
        h.update(b"\0" + os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(force=False):
    """Compile unless the classes were built from exactly these sources;
    later calls with unchanged sources reuse them."""
    files = sources()
    jars = spark_jars()
    key = inputs_key(files, jars)
    if not force and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == key:
                return CLASSES
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(key + "\n")
    return CLASSES


if __name__ == "__main__":
    build(force=True)
    print(CLASSES)
