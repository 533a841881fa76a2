#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships among
Spark's jars, into $CARGO_TARGET_DIR/perfbench (default
.bench_build/perfbench). A build is reused while no source file changed.

    python3 perfbench/build.py        # build if needed, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return jars


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not files:
        raise RuntimeError("no Scala sources found")
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(os.path.join(jars, "*.jar")))).encode())
    return h.hexdigest()


def classpath(classes, jars):
    return os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")])


def ensure_built(log=sys.stderr):
    """Return (classpath, built_now)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classpath(classes, jars), False
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"building {len(files)} sources into {os.path.relpath(out, ROOT)}", file=log)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classpath(classes, jars), True


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
