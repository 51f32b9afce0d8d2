"""Build file of the benchmark: compiles graft's main sources and the
harness into one class directory with scalac from the Spark distribution.

The output is reused while no source changed (a digest of every source
file is kept beside the classes). Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = "/opt/spark/jars"


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no graft sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def classpath(root):
    return os.path.join(build_dir(root), "classes") + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(root):
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(root), "classes")
    stamp = os.path.join(build_dir(root), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(SPARK_JARS, "*")
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", out, "-classpath", cp] + srcs,
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    build(os.getcwd())
