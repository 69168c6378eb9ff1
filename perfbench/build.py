"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into <build root>/perfbench/classes.

The build root is $CARGO_TARGET_DIR when set, else .bench_build, relative
to the repository root. A build is skipped when the sources, the jar set
and this file are unchanged since the last one.

    python3 perfbench/build.py      # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


class BuildError(Exception):
    pass


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return program + harness


def _stamp(srcs, jars):
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classes dir, Spark jar dir)."""
    jars = spark_jars()
    srcs = sources()
    out = build_root()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    stamp = _stamp(srcs, jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler jars in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx1536m",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
