"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in
Spark's jars, into .bench_build/perfbench/classes.

Needs only a JDK and a Spark distribution (SPARK_HOME, or spark-submit
on PATH): no build tool, no dependency resolution. A stamp over every
source file's path and contents skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def fail(msg):
    print(f"perfbench build: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        fail("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    return prog + bench


def build():
    """Compile when stale; return the runtime classpath."""
    srcs = sources()
    jars_dir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    classpath = CLASSES + os.pathsep + os.path.join(jars_dir, "*")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return classpath

    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jar_cp = os.pathsep.join(jars)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jar_cp, "@" + argfile]
    print(f"perfbench build: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


if __name__ == "__main__":
    print(build())
