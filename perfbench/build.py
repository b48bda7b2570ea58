"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the benchmark's own sources (`perfbench/src`) with the
Scala compiler that ships in the Spark distribution, into
`.bench_build/classes`. A content hash of every source skips rebuilds.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
SCALA_VERSION = "2.13.17"


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return main, own


def compiler_cp():
    return os.pathsep.join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA_VERSION}.jar")
                           for m in ("compiler", "library", "reflect"))


def ensure_built(root):
    """Returns the classes directory; raises RuntimeError when the tree
    cannot be built (no library sources, no toolchain, compile error)."""
    main, own = sources(root)
    if not main:
        raise RuntimeError("no library sources under src/main/scala")
    if not own:
        raise RuntimeError("no benchmark sources under perfbench/src")
    for jar in compiler_cp().split(os.pathsep):
        if not os.path.isfile(jar):
            raise RuntimeError(f"Scala compiler jar missing: {jar}")
    h = hashlib.sha256()
    for f in main + own:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    build = os.path.join(root, ".bench_build")
    classes = os.path.join(build, "classes")
    stamp = os.path.join(build, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(main + own))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", compiler_cp(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"), "-d", classes, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=850)
    if proc.returncode != 0:
        raise RuntimeError("compile failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
    sys.exit(0)
