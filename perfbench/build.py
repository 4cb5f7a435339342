"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark's own Scala (`perfbench/scala`) with the Scala compiler
that ships in the Spark distribution, into `.bench_build/` of the checkout.
No sbt and no dependency resolution: the program's compile classpath is the
Spark jar directory `build.sbt` names.

A build is skipped when the sources' hash matches the last build's stamp.

    python3 perfbench/build.py     # prints the class directories
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_jars():
    """The Spark jar directory the project's build.sbt compiles against
    (`unmanagedBase`), unless SPARK_JARS_DIR names another."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = _spark_jars()
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(files, out, classpath):
    stamp_file = out + ".stamp"
    stamp = _stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"build failed: scalac exited {res.returncode} for {out}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def source_digest():
    """sha256 of the program sources: identifies the code measured when the
    checkout carries no git metadata."""
    return _stamp(_sources(PROGRAM_SRC))


def build():
    """Compile both trees; returns the runtime classpath."""
    program = _sources(PROGRAM_SRC)
    bench = _sources(BENCH_SRC)
    if not program:
        raise SystemExit(f"build failed: no program sources under {PROGRAM_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build failed: Spark jars not found at {SPARK_JARS}")
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    prog_out = os.path.join(BUILD, "classes", "program")
    bench_out = os.path.join(BUILD, "classes", "bench")
    _scalac(program, prog_out, spark_cp)
    _scalac(bench, bench_out, os.pathsep.join([prog_out, spark_cp]))
    return os.pathsep.join([bench_out, prog_out, spark_cp])


if __name__ == "__main__":
    print(build())
