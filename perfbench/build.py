"""Compile the engine (src/main/scala) together with the benchmark harness
(perfbench/scala) into a class directory under the build directory.

Uses the Scala compiler that ships with Spark's jars, so no build tool or
network is needed. The class directory is keyed by a hash of every source
file, so a checkout builds once and later runs reuse it.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars: SPARK_HOME, else the
    installation `spark-submit` on PATH belongs to, else pyspark's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build(log=sys.stderr):
    """Build if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    base = build_dir()
    out = os.path.join(base, f"classes-{key}")
    resources = os.path.join(ROOT, "src", "main", "resources")
    classpath = os.pathsep.join([out, resources, os.path.join(jars, "*")])
    if os.path.exists(os.path.join(out, ".complete")):
        return classpath
    os.makedirs(base, exist_ok=True)
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".partial"
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-Ybackend-parallelism", "4",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
