"""Build file of the ingest benchmark.

Compiles the repository's main Scala sources together with the harness in
`ingestbench/src/` into `<build dir>/ingestbench/classes`, using the Scala
compiler that ships in Spark's `jars/` directory, and skips the compile when
no source changed. The build dir is `$CARGO_TARGET_DIR` or `.bench_build`,
relative to the repository root.

    python3 ingestbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "ingestbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"the program's sources are missing: {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def classpath():
    """Class path of the built benchmark; builds first when out of date."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir(), "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        print(f"[ingestbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compilation failed")
        with open(os.path.join(tmp, ".stamp"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    try:
        classpath()
    except BuildError as e:
        print(f"[ingestbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
