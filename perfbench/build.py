"""Builds the library and the benchmark process from source.

Compiles `src/main/scala` together with `perfbench/scala` with the Scala
compiler that ships among Spark's jars (`$SPARK_HOME/jars`), into
`.bench_build/classes.jar`. A stamp over every source file's path and
content skips the build when nothing changed.

The benchmark process loads some 18,000 classes from jars before its
first job; a class-data-sharing archive of them (`classes-<stamp>.jsa`)
is written by the first run after a build and mapped by every later one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("SPARK_HOME must point at a Spark install with the Scala compiler jar")
    return os.path.join(jars, "*")


def sources():
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit(f"no library sources under {SOURCE_DIRS[0]}")
    return sorted(files)


def build(build_dir):
    """Returns (java options naming the classpath and class-data archive,
    build seconds or None if up to date)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    jar = os.path.join(build_dir, "classes.jar")
    archive = os.path.join(build_dir, f"classes-{stamp}.jsa")
    built = None
    try:
        with open(jar + ".stamp") as fh:
            current = fh.read() == stamp
    except OSError:
        current = False
    if not current:
        built = compile_jar(build_dir, jars, files, jar, stamp)
        for old in glob.glob(os.path.join(build_dir, "classes-*.jsa")):
            os.remove(old)
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    return ["-cp", jar + os.pathsep + jars, cds], built


def compile_jar(build_dir, jars, files, jar, stamp):
    t0 = time.perf_counter()
    tmp = os.path.join(build_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", tmp, "-nowarn", "-deprecation:false"] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise SystemExit("build failed:\n" + proc.stdout[-4000:])
    # class-data sharing maps classes from jars only, not directories
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(tmp):
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                z.write(path, os.path.relpath(path, tmp))
    os.replace(jar + ".tmp", jar)
    with open(jar + ".stamp", "w") as fh:
        fh.write(stamp)
    shutil.rmtree(tmp)
    return time.perf_counter() - t0
