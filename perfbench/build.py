"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships among the
Spark jars, into .bench_build/classes. A stamp of every source file's
digest skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the repository's own build uses (`unmanagedBase`
    in build.sbt), else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def sources():
    if not os.path.isdir(PROGRAM):
        raise BuildError("program sources not found: run from the repository root")
    files = []
    for top in (PROGRAM, HARNESS):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classpath, source digest)."""
    files = sources()
    jars = spark_jars()
    sha = digest(files)
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == sha:
        return cp, sha
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BuildError("compile failed")
    with open(STAMP, "w") as fh:
        fh.write(sha)
    return cp, sha


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
