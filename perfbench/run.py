#!/usr/bin/env python3
"""Run one benchmark workload; the last line of stdout is its result.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), then runs perfbench.Harness in one JVM, which
generates the workload's inputs from the seed, measures for the given
seconds and checks every output. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer metrics (see perfbench/README.md). --mutate 1 is the
negative control: it corrupts every job's output before its check.
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

WORKLOADS = ("top-parquet", "languages-htmldir-out")
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit adds
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_options(tmp):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    # no hsperfdata file: the JVM would write it outside the checkout
    return opts + ["-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]


def declared_metrics():
    """(end-to-end names, per-layer names) from BENCHMARK.json, if present."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def valid_result(r, trace):
    ok = (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(r["correct"], bool) and isinstance(r["attempted"], int)
          and isinstance(r["failed"], int) and r["attempted"] >= 1 and isinstance(r["metrics"], dict))
    declared = declared_metrics()
    if ok and declared is not None:
        ok = sorted(r["metrics"]) == sorted(declared[1] if trace else declared[0])
    return ok


def run_jvm(cmd, timeout):
    """Run a JVM in its own process group, so that a timeout also kills any
    set-up JVM it started; returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print("perfbench: %s exceeded %d s" % (cmd[cmd.index("--mode") + 1], timeout), file=sys.stderr)
        out, code = b"", 3
    else:
        code = proc.returncode or 0
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    return code, out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--mutate", default="0", choices=("0", "1"))
    a = ap.parse_args(argv)

    deadline = time.monotonic() + TIMEOUT_S
    os.chdir(build.ROOT)
    try:
        cp = build.build()
        java = build.java()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(build.target_dir(), "work", "%s-%d-%s" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    harness = [java] + jvm_options(os.path.join(work, "tmp")) + ["-cp", cp, "perfbench.Harness"]
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", work]
    try:
        # inputs first, in their own JVM, so the measuring JVM starts cold
        t0 = time.monotonic()
        code, out = run_jvm(harness + ["--mode", "generate"] + common, deadline - time.monotonic())
        print("perfbench: inputs generated in %.1f s" % (time.monotonic() - t0), file=sys.stderr)
        if code == 0:
            code, out = run_jvm(harness + ["--mode", "run", "--seconds", str(a.seconds), "--trace", a.trace,
                                           "--mutate", a.mutate] + common, deadline - time.monotonic())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print("perfbench: harness exited %d" % code, file=sys.stderr)
        return code
    lines = out.decode("utf-8", "replace").strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        result = None
    if not valid_result(result, a.trace == "1"):
        print("perfbench: no valid result line", file=sys.stderr)
        return 4
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
