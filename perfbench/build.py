#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources, then the
benchmark's own Scala sources against them, with the Scala compiler that
ships with Spark, into .bench_build/perfbench/ at the repository root.

Each output jar is named by a hash of its inputs (sources, Spark jar set,
JDK), so a build is reused until one of them changes. Run it alone
with `python3 perfbench/build.py`; run.py calls it first.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(REPO, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found")
    return found


def scala_sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def digest(srcs, *extra):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for e in extra:
        h.update(e.encode())
    return h.hexdigest()[:16]


def compile_into(name, key, srcs, classpath, java, log):
    """Compiles `srcs` into the jar WORK/<name>-<key>.jar, unless already
    there. The classes go into a jar because the JVM's class data sharing
    archive (see run.py) covers only classes loaded from jars."""
    out = os.path.join(WORK, "%s-%s.jar" % (name, key))
    if os.path.exists(out):
        return out
    os.makedirs(WORK, exist_ok=True)
    for old in glob.glob(os.path.join(WORK, name + "-*.jar")):
        os.remove(old)
    staging = out + ".classes"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(WORK, name + "-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-cp", classpath, "scala.tools.nsc.Main", "-nowarn",
           "-d", staging, "-cp", classpath, "@" + argfile]
    print("perfbench: compiling %d %s sources" % (len(srcs), name), file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed on %s sources (code %d)"
                         % (name, r.returncode))
    with zipfile.ZipFile(out + ".tmp", "w") as z:
        for root, _, files in sorted(os.walk(staging)):
            for f in sorted(files):
                path = os.path.join(root, f)
                z.write(path, os.path.relpath(path, staging))
    shutil.rmtree(staging)
    os.rename(out + ".tmp", out)
    return out


def ensure_built(log=sys.stderr):
    """Returns (classpath, java); compiles what changed."""
    jars = spark_jars()
    java = java_bin()
    graft_srcs = scala_sources(os.path.join(REPO, "src", "main", "scala"))
    if not graft_srcs:
        raise BuildError("graft sources (src/main/scala) not found under "
                         + REPO)
    bench_srcs = scala_sources(os.path.join(BENCH_DIR, "src"))
    if not bench_srcs:
        raise BuildError("benchmark sources not found")
    spark_cp = os.path.join(jars, "*")
    env = "\n".join(sorted(os.listdir(jars))) + os.path.realpath(java)
    graft_key = digest(graft_srcs, env)
    graft = compile_into("graft", graft_key, graft_srcs, spark_cp, java, log)
    bench = compile_into("bench", digest(bench_srcs, env, graft_key),
                         bench_srcs, graft + os.pathsep + spark_cp, java, log)
    return os.pathsep.join([bench, graft, spark_cp]), java


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print("perfbench build: %s" % e, file=sys.stderr)
        sys.exit(2)
