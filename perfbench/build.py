"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own Scala sources (`perfbench/src`) into one class
directory with the Scala compiler that ships in Spark's jar directory.

The output lands in `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout root and is reused while the sources are unchanged: a stamp file
holds a hash of every source file and of the compiler flags. The classes
are packed into one jar, so the JVM can map a class-data-sharing archive
of the engine's classes (made by the first run after a build, see run.py).

Usage: python3 perfbench/build.py   (prints the engine jar)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory, the first that holds a Scala compiler of:
    $SPARK_HOME/jars, the one beside the `spark-submit` on PATH, the one in
    the pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit")))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jar directory with a Scala compiler: set SPARK_HOME")


SPARK_JARS = spark_jars()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
SCALAC_FLAGS = ["-deprecation", "-nowarn", "-usejavacp"]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        out += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return out


def jar_path():
    return os.path.join(build_dir(), "engine.jar")


def cds_archive():
    return os.path.join(build_dir(), "engine.jsa")


def classpath():
    return f"{jar_path()}:{SPARK_JARS}/*"


def build():
    """Compile when needed; return the engine jar."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(jar_path()):
        return jar_path()
    for f in (stamp_file, jar_path(), cds_archive()):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-d", classes, *srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    with zipfile.ZipFile(jar_path(), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, classes))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar_path()


if __name__ == "__main__":
    print(build())
