#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 18 --trace 0

Run from the root of the repository. Builds the engine and harness when
the sources changed (see build.py), then runs the workload in one JVM on
local[N], N = the CPUs this process may use. Everything the run writes
stays under .bench_build/: its table, topic and checkpoint under
runs/<workload>-<seed>-<pid>/ (removed afterwards), and a detail record
(environment stamp, sample counts, spans when traced) under results/.
"""
import argparse
import ctypes
import json
import os
import signal
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve")
HEAP = "3g"
# a fixed-size heap and young generation, so the peak resident set
# depends on what the run retains rather than on how the collector
# happened to grow the heap
JVM_MEMORY = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g"]
TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def result_line(stdout):
    for line in reversed(stdout.splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
            return line
    return None


def die_with_parent():
    """In the JVM child: be killed when this process dies, however it dies."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.ensure(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    out = os.path.join(root, build.OUT)
    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    log_conf = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = [build.java(), *JVM_MEMORY, f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={log_conf}", *ADD_OPENS,
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
           "--heap", HEAP, "--run-dir", run_dir, "--results-dir", os.path.join(out, "results")]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            preexec_fn=die_with_parent)
    # a SIGTERM still reaches the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"perfbench: {a.workload} did not finish within {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    line = result_line(stdout)
    if proc.returncode != 0 or line is None:
        sys.stderr.write(stdout[-2000:])
        print(f"perfbench: {a.workload} exited {proc.returncode} without a result", file=sys.stderr)
        return 1
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
