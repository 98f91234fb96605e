"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's own sources with the Scala compiler that ships with Spark.

The output is cached under the build directory, keyed by a hash of every
source file, so only the first run of a checkout pays for the build.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [
    os.path.join(ROOT, "src", "main", "scala"),
    os.path.join(HERE, "src", "main", "scala"),
    os.path.join(HERE, "src", "test", "scala"),
]


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark runtime jars: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("repository sources not found: %s" % SOURCE_DIRS[0])
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(build_dir, log):
    """Compile into <build_dir>/classes unless it is up to date; return
    (classes dir, jars dir)."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    h.update(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed with code %d" % r.returncode)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes, jars
