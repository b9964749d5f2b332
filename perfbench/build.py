#!/usr/bin/env python3
"""Builds the benchmark: graft's main sources, then the benchmark's own
Scala sources against them, with the Scala compiler that ships in Spark's
jar directory. No build server and no dependency resolution: everything
on the classpath comes from that directory.

Each step is skipped when a stamp of its inputs matches the last build.

Usage: python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import re
import subprocess
import sys
import tempfile
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the repo's
    build.sbt names as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise BuildError("Spark jars not found: set SPARK_HOME")


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_step(files, out, classpath, extra, log):
    """Compiles `files` into `out` unless the stamp matches; returns the stamp."""
    key = stamp(files, extra + classpath)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with tempfile.NamedTemporaryFile("w", suffix=".args", dir=os.path.dirname(out), delete=False) as a:
        a.write("\n".join('"%s"' % f for f in files))
        argfile = a.name
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    print("building %s (%d files)" % (os.path.basename(out), len(files)), file=log, flush=True)
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    finally:
        os.unlink(argfile)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(key)
    return key


def build(build_dir, log=sys.stderr):
    """Returns (classpath for running, source stamp)."""
    if not os.path.isdir(MAIN_SRC):
        raise BuildError("graft sources not found at %s" % MAIN_SRC)
    os.makedirs(build_dir, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    main_out = os.path.join(build_dir, "classes-main")
    bench_out = os.path.join(build_dir, "classes-bench")
    main_key = compile_step(scala_files(MAIN_SRC), main_out, jars, "", log)
    bench_key = compile_step(scala_files(BENCH_SRC), bench_out, main_out + os.pathsep + jars, main_key, log)
    return os.pathsep.join([bench_out, main_out, jars]), bench_key


if __name__ == "__main__":
    try:
        print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))[1])
    except BuildError as e:
        sys.exit("build failed: %s" % e)
