"""Build file of the benchmark: compiles the program (src/main/scala) together
with the harness (perfbench/src) into one class directory, using the Scala
compiler that ships among Spark's jars, so no build tool or network is
needed. A stamp over every source file skips the compile when nothing
changed.

Usage: python3 perfbench/build.py   (compiles into .bench_build/)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile

def spark_jars(root="."):
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase that the
    repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    found = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if found and os.path.isdir(found.group(1)):
        return found.group(1)
    raise RuntimeError("set SPARK_HOME to the Spark installation the program builds against")


SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def _sources(root):
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, out_dir):
    """Returns the class directory, compiling first if a source changed."""
    if not os.path.isdir(os.path.join(root, SOURCE_DIRS[0])):
        raise RuntimeError(f"no program sources under {SOURCE_DIRS[0]}")
    sources = _sources(root)
    digest = hashlib.sha256()
    for s in sources:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=out_dir)
    jars = spark_jars(root)
    compiler = [j for pat in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
                for j in glob.glob(os.path.join(jars, pat))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build")))
