"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/classes at the checkout root.

A stamp over the source paths and contents skips the compile when nothing
changed. Run it alone with `python3 perfbench/build.py`; run.py calls it
before every run.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open(os.path.join(ROOT, "build.sbt")).read() if os.path.exists(
            os.path.join(ROOT, "build.sbt")) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"no Spark jars with a Scala compiler under '{jars}'")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit("no program sources under src/main/scala: run from a full checkout")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    return main + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile if the sources changed; return the classpath to run with."""
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    classpath = f"{CLASSES}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", f"{jars}/*", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        sys.exit(f"compile failed with code {proc.returncode}")
    resources = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath


if __name__ == "__main__":
    print(ensure_built())
