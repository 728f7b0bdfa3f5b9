"""Build file of the benchmark package: compiles the program under
``src/main/scala`` and the benchmark harness under ``perfbench/harness``
with the Scala compiler that ships in Spark's jar directory
(``$SPARK_HOME/jars``, else the ``unmanagedBase`` of the project's
``build.sbt``).

    python3 perfbench/build.py          # prints the classpath it built

Outputs go under ``$CARGO_TARGET_DIR`` (default ``.bench_build``) in a
directory named by a hash of every source file, so an unchanged tree
is built once and a changed one is rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """Classpath entry for Spark's jars: ``$SPARK_HOME/jars``, else the
    directory the project's ``build.sbt`` declares as ``unmanagedBase``."""
    jars = ""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(REPO, "build.sbt")):
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"no Spark jars under {jars!r} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build_dir():
    return os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build():
    """Compile program and harness if needed; return the run classpath."""
    program = _sources(os.path.join(REPO, "src", "main", "scala"))
    harness = _sources(os.path.join(HERE, "harness"))
    if not program:
        sys.exit("no program sources under src/main/scala: run from a full checkout")
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    cp = [os.path.join(out, "program"), os.path.join(out, "harness")]
    if os.path.exists(os.path.join(out, ".done")):
        return cp
    jars = spark_jars()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, srcs, extra in (("program", program, []),
                              ("harness", harness, [os.path.join(tmp, "program")])):
        os.makedirs(os.path.join(tmp, name))
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
               "-d", os.path.join(tmp, name), "-cp", os.pathsep.join([jars] + extra)] + srcs
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return cp


if __name__ == "__main__":
    print(os.pathsep.join(build()))
