"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1 [--perturb]

Run from the root of a checkout. Builds the engine and the benchmark
(perfbench/build.py), starts one JVM in a fresh run directory under
.bench_runs/, and prints the result as the last line of stdout:

    {"correct": true, "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(and writes spans to .bench_out/trace-<workload>-<seed>.jsonl). --perturb
changes one expected top-k before the correctness check (self-test: the run
must then report correct=false). The run directory, and the indexes
SearchServer's IndexCache builds for the run's corpus paths under /tmp, are
deleted at the end; the JVM's log is kept in .bench_out/.

The first run of a workload on a fresh build also writes a class-data
sharing archive of the classes it loaded (.bench_build/, next to the jar);
later runs map it instead of loading and verifying ~10^4 Spark classes
again, which takes several seconds off every run's start-up.
"""

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "batch")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7], sum(xs)
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--perturb", action="store_true")
    a = ap.parse_args()
    settings = os.path.join("perfbench", "settings.json")
    if not os.path.isfile(settings):
        sys.exit("perfbench/settings.json not found; run from the checkout root")

    jar = os.path.abspath(build.build())
    root = os.getcwd()
    tag = f"{a.workload}-{a.seed}" + ("-trace" if a.trace == "1" else "")
    # alphanumeric, so it survives in the names of the index directories
    # SearchServer's IndexCache derives from a corpus path under /tmp
    token = f"r{os.getpid()}t{time.time_ns()}"
    run_dir = os.path.join(root, ".bench_runs", f"{tag}-{token}")
    out_dir = os.path.join(root, ".bench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cds = f"{jar[:-len('.jar')]}-{a.workload}.jsa"
    cds_flag = ("-XX:SharedArchiveFile=" + cds if os.path.isfile(cds)
                else "-XX:ArchiveClassesAtExit=" + cds + ".tmp")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed heap (-Xms = -Xmx, as build.sbt runs the engine) keeps heap
    # resizing out of the run-to-run variance
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", cds_flag,
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dderby.system.home=" + run_dir,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", jar + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
        "perfbench.Run",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--settings", settings, "--dir", os.path.join(run_dir, "work"),
        "--result", result,
        "--trace-out", os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.jsonl"),
    ] + (["--perturb"] if a.perturb else [])
    log_path = os.path.join(out_dir, tag + ".log")
    proc = None
    cpu0 = cpu_times()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
        with open(log_path) as log:
            lines = log.read().splitlines()
        for line in lines:
            if line.startswith(("[bench]", "[serve]", "[batch]", "[trace]")):
                print(line, file=sys.stderr)
        if rc != 0 or not os.path.isfile(result):
            print("\n".join(lines[-40:]), file=sys.stderr)
            sys.exit(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'};"
                     f" log: {log_path}")
        with open(result) as f:
            res = json.load(f)
        if os.path.isfile(cds + ".tmp"):
            os.replace(cds + ".tmp", cds)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        # the serve JVM deletes the indexes IndexCache built for its corpus
        # paths; this also catches those of a JVM that was killed
        for p in glob.glob(os.path.join("/tmp", f"*{token}*")):
            shutil.rmtree(p, ignore_errors=True)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # CPU time the hypervisor gave to other guests: on a shared host this
        # is the usual cause of a slow run
        steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        print(f"[run] host steal {100 * steal:.1f}% of CPU time", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    t0 = time.time()
    main()
    print(f"[run] {time.time() - t0:.1f} s", file=sys.stderr)
