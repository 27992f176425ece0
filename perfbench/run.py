#!/usr/bin/env python3
"""Benchmark entry point: builds the system from source, runs one workload
in one JVM, and prints the result as the last line of stdout.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds with sbt (the
benchmark's own project in this directory, which compiles the repo's
src/main/scala with it); later runs reuse the build while the sources are
unchanged. Everything the benchmark writes goes under `.bench_build/` in
the checkout. The `gates` workload's results are compared with their DuckDB
oracles here, after the JVM has exited (`oracle.py`). Extra flags for the
self-test and for checks of the generator: `--size tiny`,
`--inject drop_done|corrupt_msg|corrupt_gate` and `--mix alt`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdc", "gates")
RUN_TIMEOUT_S = 150

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (the list spark-submit itself passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# A run is far too short for the C2 compiler to finish: its compile threads
# would spend half the CPU of the timed operations, less in each one after.
# C1 alone compiles cheaply, mostly before the timed operations. A
# fixed-size heap under the parallel collector keeps the collector's share
# of each operation the same from run to run.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build(env):
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject", default="none",
                    choices=("none", "drop_done", "corrupt_msg", "corrupt_gate"))
    ap.add_argument("--mix", choices=("default", "alt"), default="default")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; expected one of {WORKLOADS}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no system sources under {ROOT}/src/main/scala; "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)

    # per-process directories, so concurrent runs never share state
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_OPTS + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--size", a.size, "--mix", a.mix, "--inject", a.inject,
              "--work", work])
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=BUILD, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        t1 = time.monotonic()
        with open(os.path.join(BUILD, "last_run.log"), "w") as fh:
            fh.write(out + "\n--- stderr ---\n" + err)
        result = [l for l in out.splitlines() if l.startswith("RESULT ")]
        if proc.returncode != 0 or not result:
            sys.stderr.write(err[-4000:])
            fail(f"run failed with exit code {proc.returncode}")
        res = json.loads(result[-1][len("RESULT "):])
        notes = [l for l in out.splitlines() if l.startswith(("GENERATOR ", "NOTE "))]
        for line in out.splitlines():
            if line.startswith("ORACLE "):
                # one more operation per gate: its result against the oracle
                tables, check = line.split()[1:3]
                sys.path.insert(0, HERE)
                import oracle
                n, fails = oracle.compare(tables, check)
                res["attempted"] += n
                res["failed"] += len(fails)
                res["correct"] = res["correct"] and not fails
                notes += [f"NOTE oracle mismatch {g}: {why}" for g, why in fails]
                print(f"perfbench: JVM {t1 - t0:.1f} s, oracle compare "
                      f"{time.monotonic() - t1:.1f} s", file=sys.stderr)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    for line in notes:
        print(line)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
