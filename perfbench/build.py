"""Build graft and the benchmark harness from source with scalac.

Compiles `src/main/scala` (the program) and `perfbench/harness` (the
benchmark's JVM side) against the Spark jars into one class directory.
The build is skipped when a stamp of every source file and the compiler
matches the last build. Uses the Scala compiler that ships in
`$SPARK_HOME/jars`, so no build tool or network is needed.

Usage: python3 perfbench/build.py [out_dir]   (default .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "harness")


def spark_jars():
    """The Spark install's jars/: from SPARK_HOME, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("set SPARK_HOME to a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def out_dir():
    return os.path.join(ROOT, ".bench_build")


def sources():
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")
    found = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
    return found


def compiler_cp(jars):
    names = ["scala-compiler", "scala-library", "scala-reflect"]
    cp = []
    for n in names:
        hits = sorted(glob.glob(os.path.join(jars, f"{n}-2.13*.jar")))
        if not hits:
            raise SystemExit(f"{n} jar not found in {jars}")
        cp.append(hits[-1])
    return cp


def build(out=None):
    """Compile if needed; return the class directory."""
    out = out or out_dir()
    jars = spark_jars()
    srcs = sources()
    ccp = compiler_cp(jars)
    h = hashlib.sha256()
    for f in srcs + ccp:
        h.update(os.path.relpath(f, ROOT).encode() if f.startswith(ROOT) else f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(ccp), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None))
