"""Builds the program and the benchmark harness from source, with the Scala
compiler that ships in Spark's jar directory (no sbt, no downloads).

    python3 perfbench/build.py      # from the root of a checkout

Outputs go to `.bench_build/` under the checkout: `program.jar` (every
file under src/main/scala), `harness.jar` (perfbench/src) and a stamp of
the sources each was built from, so an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SPARK_JARS = os.environ.get("PERFBENCH_SPARK_JARS", "/opt/spark/jars")
SCALA_VERSION = "2.13.17"
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no jars under {SPARK_JARS}")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, classpath, out_jar, build_dir, label):
    stamp_file = out_jar + ".stamp"
    stamp = _stamp(files, ":".join(classpath))
    if os.path.exists(out_jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return False
    classes = os.path.join(build_dir, label + "-classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(SPARK_JARS, f"scala-{n}-{SCALA_VERSION}.jar")
                for n in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            raise BuildError(f"missing {j}")
    argfile = os.path.join(build_dir, label + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", ":".join(classpath), "-d", classes,
           "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError(f"scalac failed for {label}:\n{p.stdout[-4000:]}")
    tmp = out_jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for root, _, names in os.walk(classes):
            for n in sorted(names):
                full = os.path.join(root, n)
                z.write(full, os.path.relpath(full, classes))
    os.replace(tmp, out_jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    return True


def ensure(root):
    """Builds what is stale; returns the run classpath (list of jars)."""
    src = os.path.join(root, "src", "main", "scala")
    program_sources = _sources(src)
    if not program_sources:
        raise BuildError(f"no program sources under {src}")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    spark = spark_classpath()
    program = os.path.join(build_dir, "program.jar")
    _compile(program_sources, spark, program, build_dir, "program")
    harness = os.path.join(build_dir, "harness.jar")
    _compile(_sources(os.path.join(HERE, "src")), [program] + spark, harness, build_dir, "harness")
    return [harness, program] + spark


if __name__ == "__main__":
    try:
        ensure(os.getcwd())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
