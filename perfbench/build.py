"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark's own Scala sources (perfbench/src) into one jar.

It calls the Scala compiler that ships with the Spark distribution directly
(no sbt, no dependency resolution), so a clean checkout builds offline. The
output is reused while a hash over every input file is unchanged, and that of
the previous build is kept too. A jar, not a class directory, so the JVM's
class-data sharing archive (see run.py) can cover the whole class path.

    python3 perfbench/build.py            # prints the jar path
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile


def _spark_home():
    """$SPARK_HOME, else the first Spark installation (a bin/spark-submit
    next to a jars/ directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    raise SystemExit("Spark not found: set SPARK_HOME or put its bin/ on PATH")


SPARK_JARS = os.path.join(_spark_home(), "jars")
BENCH_SRC = os.path.join("perfbench", "src")
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
OUT_ROOT = ".bench_build"


def _files(root, suffix=""):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def spark_classpath():
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar"))
    if not jars:
        raise SystemExit(f"no Spark jars under {SPARK_JARS}")
    return jars


def build():
    """Compiles if needed; returns the jar."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}; "
                         "run from the root of a checkout")
    sources = _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(ENGINE_RES)
    h = hashlib.sha256()
    for p in sources + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    jar = os.path.join(OUT_ROOT, "bench-" + stamp + ".jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(OUT_ROOT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_classpath()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(OUT_ROOT, "sources-" + stamp + ".txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", classes,
           "@" + argfile]
    print(f"[build] compiling {len(sources)} sources -> {classes}",
          file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    for r in resources:
        dst = os.path.join(classes, os.path.relpath(r, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    os.remove(argfile)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    _prune(stamp)
    return jar


def _prune(stamp, keep=2):
    """Deletes the jars and class-data archives of all but the newest `keep`
    builds (this one included), so two commits measured in turn in one
    checkout each keep theirs."""
    builds = {}
    for name in os.listdir(OUT_ROOT):
        if name.startswith("bench-"):
            builds.setdefault(name[len("bench-"):][:16], []).append(
                os.path.join(OUT_ROOT, name))
    older = sorted((s for s in builds if s != stamp), reverse=True,
                   key=lambda s: max(os.path.getmtime(p) for p in builds[s]))
    for s in older[keep - 1:]:
        for p in builds[s]:
            os.remove(p)


if __name__ == "__main__":
    print(build())
