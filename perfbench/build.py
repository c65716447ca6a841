"""Build file of the table-format benchmark.

Compiles the graft library (src/main/scala) together with the benchmark
driver (perfbench/src) using the Scala compiler shipped in the Spark
distribution ($SPARK_HOME/jars), into .bench_build/perfbench.jar. A content
hash of every source is stamped next to the jar, so a rerun with unchanged
sources does not recompile. The classes go into a jar rather than a
directory so the JVM's class-data-sharing archive (see run.py) can hold them.

Run from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCE_DIR = "src/main/resources"
OUT = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark 4 distribution")
    return os.path.join(home, "jars")


def sources():
    found = []
    for d in SOURCE_DIRS + [RESOURCE_DIR]:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


JAR = os.path.join(OUT, "perfbench.jar")
# class-data-sharing archive, dumped by the first run after a build
CDS_ARCHIVE = os.path.join(OUT, "perfbench.jsa")


def classpath():
    """Explicit, sorted jar list: a class-data-sharing archive is only valid
    for the exact classpath it was dumped with."""
    jars = sorted(os.path.join(spark_jars(), j) for j in os.listdir(spark_jars()) if j.endswith(".jar"))
    return os.pathsep.join([JAR] + jars)


def build():
    """Compile when the sources changed since the last build; returns the
    runtime classpath."""
    if not os.path.isdir("src/main/scala/graft"):
        raise SystemExit("perfbench: run from the repository root (src/main/scala/graft is missing)")
    files = sources()
    digest = source_hash(files)
    stamp = os.path.join(OUT, "perfbench.stamp")
    if os.path.exists(stamp) and os.path.exists(JAR) and open(stamp).read() == digest:
        return classpath()
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.copytree(RESOURCE_DIR, tmp, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for base, _, names in os.walk(tmp):
            for n in sorted(names):
                path = os.path.join(base, n)
                z.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    os.replace(JAR + ".tmp", JAR)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    build()
