"""Build the program and the benchmark's JVM side from source.

Compiles the program (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) with the Scala compiler that ships in Spark's
`jars` directory, into `.bench_build/perfbench/classes`.  A digest of every
source file is kept beside the classes, so an unchanged tree is not compiled
again.  No dependency is resolved or downloaded.

    python3 perfbench/build.py      # builds, then prints the runtime classpath
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
STAMP = os.path.join(OUT, "classes.sha256")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark's jars directory not found; set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    found = []
    for d in (PROGRAM_SRC, BENCH_SRC):
        found += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return found


def source_digest(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([CLASSES, PROGRAM_RESOURCES, os.path.join(jars, "*")])


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = source_digest(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath(jars)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("the Scala 2.13 compiler is not among Spark's jars")
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", CLASSES, "-classpath",
                           os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))] + files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
