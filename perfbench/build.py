"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into <build_dir>/classes.

A stamp over the source contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]   (from the repo root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
BENCH_SRC = "perfbench/src"


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    files = []
    for root in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build(build_dir):
    """Compile if needed; returns the classes directory."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Graft.scala")):
        raise FileNotFoundError(
            f"engine sources not found under {ENGINE_SRC}/ (run from the repo root)")
    files = sources()
    want = stamp(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", classes, "-classpath", cp] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-8000:])
        raise RuntimeError("scalac failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
