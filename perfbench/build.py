"""Build file of the benchmark.

Compiles the repository's main sources (`src/main/scala`) together with the
harness (`perfbench/src`) into `<root>/.bench_build/classes`, with the Scala
compiler that ships in Spark's jar directory (`$SPARK_HOME/jars`, or the one
beside `spark-submit` on the PATH). Skips the compile when no source changed.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no scala-compiler jar in {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"build: no sources under {main}")
    return found + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def ensure_built():
    """Compiles if needed; returns the classpath to run the harness with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for path in srcs + [os.path.abspath(__file__)]:
        with open(path, "rb") as f:
            h.update(path.encode() + b"\0" + f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build: compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    print(ensure_built())
