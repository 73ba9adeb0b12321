"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships among the Spark jars, into `.bench_build`.

The Spark jar directory is `$SPARK_HOME/jars`, else the `unmanagedBase`
the repository's `build.sbt` names. A build is reused while the sources
and the jar directory are unchanged.

    python3 perfbench/build.py        # build (or reuse) and print the classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCES = ["src/main/scala", "perfbench/src"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def _sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise BuildError(f"missing source directory {d}")
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = _sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    compiler = [glob.glob(f"{jars}/scala-{n}-2.*.jar") for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler among {jars}")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*", "-d", classes,
         "@" + args], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
