"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/classes-<source hash>`.

No sbt and no dependency resolution: the engine's only dependencies are
the Spark jars (`build.sbt` sets `unmanagedBase` to the same directory),
so one `scalac` call over both source trees is the whole build. A
checkout builds once; later runs reuse the classes while no source
changes.

    python3 perfbench/build.py      # build (or confirm) and print the classes dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(REPO, ".bench_build")


def spark_jars():
    """`$SPARK_HOME/jars`, else the directory `build.sbt` names as
    `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(REPO, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          open(sbt).read())
    if not m:
        raise RuntimeError("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def _sources():
    trees = [os.path.join(REPO, "src", "main", "scala"), os.path.join(BENCH, "src")]
    found = []
    for tree in trees:
        tree_files = []
        for d, _, names in os.walk(tree):
            tree_files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
        if not tree_files:
            raise RuntimeError(f"no Scala sources under {os.path.relpath(tree, REPO)}")
        found += sorted(tree_files)
    return found


def ensure(log=sys.stderr):
    """Return the classes directory for the current sources, compiling
    them first if no build of exactly these sources exists."""
    sources = _sources()
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", jars, "@" + argfile]
    print(f"[perfbench] compiling {len(sources)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compilation failed:\n" + res.stdout[-4000:])
    os.remove(argfile)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for d in os.listdir(BUILD):
        if d.startswith("classes-") and os.path.join(BUILD, d) != out and ".tmp" not in d:
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    return out


if __name__ == "__main__":
    print(ensure())
