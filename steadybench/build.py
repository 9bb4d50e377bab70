"""Build file of the steady-state benchmark.

Compiles the program (src/main/scala plus src/main/resources) and the
benchmark's own sources (steadybench/src) with the Scala compiler that
ships in Spark's jar directory, so no build tool, network or project
loading is involved. Output goes to .bench_build/steadybench/prog-<hash> and bench-<hash>,
keyed by digests of the source files; an unchanged tree reuses them.

Usage: python3 steadybench/build.py   (prints the class directories)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "steadybench")
PROG_SRC = os.path.join(ROOT, "src", "main", "scala")
PROG_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
OUT_BASE = os.path.join(ROOT, ".bench_build", "steadybench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("Spark not found: set SPARK_HOME")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return jars


def scala_files(d):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def tree_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out_dir, files):
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars under {jars}")
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", out_dir, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def compiled(out, compile_into):
    """Returns `out`, compiling into a fresh directory first unless a
    completed build is already there."""
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        compile_into(tmp)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def build():
    """Returns (program classes dir, benchmark classes dir, jars dir)."""
    if not os.path.isdir(PROG_SRC) or not os.path.isdir(BENCH_SRC):
        raise BuildError(f"program sources missing under {ROOT}")
    prog = scala_files(PROG_SRC)
    bench = scala_files(BENCH_SRC)
    if not prog or not bench:
        raise BuildError("no Scala sources to build")
    jars = spark_jars()
    res = []
    if os.path.isdir(PROG_RES):
        for base, _, names in os.walk(PROG_RES):
            res += [os.path.join(base, n) for n in names]
    this = [os.path.abspath(__file__)]
    prog_key = tree_digest(prog + sorted(res) + this)
    bench_key = tree_digest(prog + sorted(res) + bench + this)

    def compile_prog(d):
        scalac(jars, os.path.join(jars, "*"), d, prog)
        for f in res:
            dst = os.path.join(d, os.path.relpath(f, PROG_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)

    prog_out = compiled(os.path.join(OUT_BASE, f"prog-{prog_key}"), compile_prog)
    bench_out = compiled(os.path.join(OUT_BASE, f"bench-{bench_key}"), lambda d: scalac(
        jars, os.path.join(jars, "*") + ":" + prog_out, d, bench))
    return prog_out, bench_out, jars


if __name__ == "__main__":
    try:
        print("\n".join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
