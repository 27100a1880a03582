"""Build file of the benchmark package: compiles the engine
(`src/main/scala`) and the benchmark driver (`perfbench/scala`) with the
Scala compiler that ships in the Spark distribution, into
`<build dir>/classes`. A stamp of the sources' content skips the compile
when nothing changed.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "scala")]


def _spark_home():
    """$SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


class BuildError(RuntimeError):
    pass


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {SPARK_JARS}")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return (classes directory, whether it compiled)."""
    files = sources()
    stamp = _stamp(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes, False
    jars = spark_classpath()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", staging, "-classpath",
                            os.pathsep.join(jars)] + files))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(str(e))
