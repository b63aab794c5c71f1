"""Builds the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/harness/src) together with the Scala compiler that ships
in Spark's jars, into .bench_build/classes, and dumps the harness's item
lists and oracle SQL to .bench_build/oracles.json.

    python3 perfbench/build.py

run.py calls it before every run; it recompiles only when a source changed.
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


def spark_jars():
    """The jars of the Spark the engine builds against: $SPARK_HOME, else the
    installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "harness/src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in files:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return files, h.hexdigest()


def build():
    """Compiles engine and harness into .bench_build/classes unless the
    sources are unchanged; dumps the oracle SQL of every item beside them."""
    files, stamp = sources()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(["java", "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
                        "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", cp, f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.exit(f"build failed:\n{r.stdout[-4000:]}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    r = subprocess.run(["java", f"-Djava.io.tmpdir={BUILD}", "-cp", f"{classes}:{cp}",
                        "graft.perfbench.Oracles", os.path.join(BUILD, "oracles.json")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.exit(f"oracle dump failed:\n{r.stdout[-4000:]}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
