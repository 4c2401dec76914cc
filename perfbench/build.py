"""Build recipe for the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in the Spark jars directory. Outputs go to
.bench_build/<hash of the sources>/classes under the repository root, so an
unchanged tree is compiled once.

Run directly to build without running: python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else /opt/spark/jars."""
    for d in (os.path.join(os.environ.get("SPARK_HOME", ""), "jars"), "/opt/spark/jars"):
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise SystemExit("build: no Spark jars directory found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"build: no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    return engine + bench


def build():
    """Compile if needed; returns the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(sorted(os.listdir(jars)).__repr__().encode())
    out = os.path.join(ROOT, ".bench_build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    print(f"build: compiling {len(srcs)} sources into {os.path.relpath(classes, ROOT)}",
          file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
