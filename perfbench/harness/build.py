#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the harness sources (``perfbench/harness/src``) together with
graft's main sources (``src/main/scala`` of the checkout) with the Scala
compiler that ships in ``$SPARK_HOME/jars``, against Spark's jars. It
needs nothing but ``java`` and ``SPARK_HOME``: no sbt, no dependency
cache, nothing in the home directory. Everything it writes stays under
the output directory.

    python3 perfbench/harness/build.py [OUT_DIR]

OUT_DIR defaults to ``.bench_build/perfbench/classes`` under the current
directory, which must be the root of a graft checkout. The build is
skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HARNESS = os.path.dirname(os.path.abspath(__file__))
COMPILER_JARS = ("scala-compiler-", "scala-library-", "scala-reflect-")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not home or not jars:
        raise BuildError("SPARK_HOME must point at a Spark installation")
    return jars


def sources(root):
    """The harness's and graft's main Scala sources."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BuildError("run from the root of a graft checkout "
                         "(src/main/scala/graft is missing)")
    files = []
    for d in (os.path.join(HARNESS, "src"), os.path.join(root, "src", "main", "scala")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def digest(root, files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out, log=lambda *a: None):
    """Compiles into ``out`` unless it holds a build of the same sources;
    returns (classpath, source digest)."""
    jars = spark_jars()
    files = sources(root)
    dig = digest(root, files)
    stamp = os.path.join(out, "perfbench.stamp")
    classpath = os.pathsep.join([out] + jars)
    if os.path.exists(stamp) and open(stamp).read() == dig:
        return classpath, dig
    compiler = [j for j in jars if os.path.basename(j).startswith(COMPILER_JARS)]
    if len(compiler) != len(COMPILER_JARS):
        raise BuildError("the Scala compiler, library and reflect jars are missing "
                         "from $SPARK_HOME/jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", os.path.join(tmp, "classes"), f"@{argfile}"]
    log(f"perfbench: compiling {len(files)} Scala sources")
    t = time.time()
    p = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError(f"scalac exited with {p.returncode}:\n{p.stdout[-4000:]}")
    log(f"perfbench: built in {time.time() - t:.0f}s")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(os.path.join(tmp, "classes"), out)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(dig)
    return classpath, dig


if __name__ == "__main__":
    root = os.getcwd()
    target = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(root, ".bench_build", "perfbench", "classes")
    try:
        build(root, os.path.abspath(target), log=print)
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
