"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/scala) with the Scala 2.13 compiler that ships in Spark's
jars, into .bench_build/classes. A stamp of the sources' content makes a
rebuild happen only when a source changed. Needs java (on PATH or in
JAVA_HOME) and SPARK_HOME.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ("src/main/scala", "perfbench/scala")


def spark_jars():
    """The jars of the Spark install that SPARK_HOME names."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("Spark's jars not found: set SPARK_HOME to a Spark install")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    out = []
    for base in SOURCE_ROOTS:
        path = os.path.join(root, base)
        if not os.path.isdir(path):
            raise SystemExit(f"missing source directory {base}: run from the root of a checkout")
        for d, _, files in os.walk(path):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; returns the class directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + srcs
    print(f"building {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
