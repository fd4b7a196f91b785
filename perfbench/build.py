"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) into one class directory under
.bench_build, with the Scala compiler that ships in Spark's jars. No sbt and
no dependency resolution: the build reads only the sources and the Spark
installation, and writes only under .bench_build.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise RuntimeError("Spark installation not found: set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise RuntimeError("program sources (src/main/scala) not found under " + root)
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    return main + bench


def jar(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-*.jar")))
    if not found:
        raise RuntimeError("missing " + prefix + " in " + jars)
    return found[-1]


def build(root, log=sys.stderr):
    """Compile if the sources changed since the last build; return the class
    directory."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(jar(jars, "scala-compiler").encode())
    base = os.path.join(root, BUILD_DIR)
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(
        jar(jars, p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    print("compiling %d sources" % len(srcs), file=log, flush=True)
    code = subprocess.run(cmd, stdout=log, stderr=log).returncode
    if code != 0:
        raise RuntimeError("scalac exited with %d" % code)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except RuntimeError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
