#!/usr/bin/env python3
"""Benchmark of the graft KG engine. Run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke          # every workload at tiny inputs

Builds the program and the benchmark from the checkout's sources (see
build.py), then runs the workload in a fresh JVM with a fixed heap and a
fixed number of Spark task slots. The last line of standard output is one
JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). Everything the run
writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("kg_flat_long", "kg_upui_skew_ckpt", "curate_funnel")
HEAP = "3g"
# one run must end within 180 s; a run that also compiled may take 900 s
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 870
# the funnel is run by hand, not gated (see README.md): one funnel takes
# about 100 s however small its input
FUNNEL_LIMIT_S = 600
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, workload, seed, seconds, trace, smoke, limit, slots=None):
    """Runs one workload in its own JVM; returns (exit code, stdout lines)."""
    base = os.path.abspath(build.BUILD)
    tag = f"{workload}-{seed}-{os.getpid()}"
    work = os.path.join(base, "work", tag)
    local = os.path.join(base, "spark-local", tag)
    tmp = os.path.join(base, "tmp", tag)
    for d in (work, local, tmp, os.path.join(base, "logs")):
        os.makedirs(d, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(os.path.abspath(p) for p in classpath), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--smoke", "1" if smoke else "0",
            "--work", work, "--dict", os.path.join("src", "main", "resources", "data_envo")]
    if slots:
        cmd += ["--slots", str(slots)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(base, "logs", f"{tag}-trace{int(trace)}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            out = ""
            sys.stderr.write(f"{workload}: no result within {limit} s\n")
    for d in (work, local, tmp):
        shutil.rmtree(d, ignore_errors=True)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int,
                    help="Spark task slots (default 4); for one-off scaling figures")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny inputs with the same output checks")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")

    t0 = time.time()
    classpath, built = build.build()
    elapsed = time.time() - t0

    if a.smoke:
        bad = []
        for w in WORKLOADS:
            code, lines = run_jvm(classpath, w, a.seed, 1, False, True, FUNNEL_LIMIT_S)
            res = json.loads(lines[-1]) if code == 0 and lines else None
            print(f"smoke {w}: " + (json.dumps(res) if res else f"exit {code}"))
            if not res or not res["correct"]:
                bad.append(w)
        sys.exit(1 if bad else 0)

    if a.workload == "curate_funnel":
        limit = FUNNEL_LIMIT_S
    else:
        limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - elapsed
    code, lines = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace == 1, False, limit,
                          a.slots)
    if code != 0 or not lines:
        sys.exit(code or 1)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
