"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/classes-<hash of the sources>. A build
whose sources are unchanged is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def sources():
    files = []
    for base in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    srcs = sources()
    if not any("/src/main/scala/" in f for f in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{p}-2.13.17.jar") for p in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            raise SystemExit(f"build: missing {j}")
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac exited {r.returncode}")
        open(os.path.join(tmp, ".ok"), "w").close()
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
    finally:
        os.remove(argfile)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
    return out


if __name__ == "__main__":
    print(build())
