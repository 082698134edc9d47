"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload analytic_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest        # classification guard + generator tests
    python3 perfbench/run.py --record          # re-classify rows, re-record digests

Builds the program and the benchmark first (see build.py), then runs the
benchmark in one JVM on local[nproc]. Everything it writes stays under
.bench_build/ in the checkout; the per-run scratch directory is removed
when the run ends.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("analytic_mix", "build_then_read")
TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    opts += [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.driver.host=127.0.0.1",
        "-Dspark.driver.bindAddress=127.0.0.1",
        "-Dderby.system.home=" + tmp,
    ]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return ["java"] + opts + ["-cp", cp, "perfbench.Main", "--root", ROOT, "--work", work] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", metavar="OUT", nargs="?", const="perfbench/data/rows.json")
    a = ap.parse_args()

    classes = build.build()
    base = os.path.join(build.build_dir(), "work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    if a.selftest:
        args = ["--mode", "selftest"]
    elif a.record:
        args = ["--mode", "record"]
    elif a.workload:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    else:
        ap.error("--workload, --selftest or --record is required")
    cmd = java_cmd(classes, work, args)
    if a.record:
        cmd.insert(1, "-Dperfbench.out=" + os.path.join(ROOT, a.record))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S if a.workload else None)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write(f"benchmark did not finish within {TIMEOUT_S} s\n")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if proc.returncode != 0:
        sys.stderr.write(f"benchmark exited {proc.returncode}\n")
        return proc.returncode
    if a.workload and not out.rstrip().splitlines()[-1].startswith('{"correct"'):
        sys.stderr.write("benchmark printed no result line\n")
        return 4
    return 0


if __name__ == "__main__":
    sys.exit(main())
