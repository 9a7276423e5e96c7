#!/usr/bin/env python3
"""graft benchmark: one command, one JSON result line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

Run from the root of a graft checkout. The first run builds the library
and the harness from source (see build.py); every run then starts one JVM
per workload on ``local[4]``, generates its inputs from ``--seed`` inside a
temporary directory under the build directory, runs a seed-ordered op
sequence in closed loop from one client thread, checks the outputs outside
the timed region and removes the temporary directory. A run is the whole
number of op cycles nearest ``--seconds`` (at least one), so every run of
one seed does the same work.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` runs the same ops with Spark listeners, a counting commit-log
store and a listener-bus drain after every op, reports the per-layer
metrics and writes the spans of the run, with op ids and self times, to
``<build dir>/traces/<workload>-seed<seed>.jsonl``. Its overhead shows as
``trace.overhead_share`` (client time spent draining) and as
``trace.ops_per_s`` against the untraced ``ops_per_s``.

Every metric is printed by name with its unit before the last line; the
last line of stdout is the compact JSON result (with ``--workload all``,
its metric names are prefixed with the workload's).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("analytics", "requests", "table_writes", "stream_dedup")
JVM_TIMEOUT_S = 170


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def run_jvm(out, work, workload, args):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.jvm_command(out, work, [
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--trace-out", os.path.join(build.build_root(), "traces")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=build.jvm_env(work))

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    t0 = time.time()
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.stderr.write("perfbench: run exceeded %d s\n" % JVM_TIMEOUT_S)
        return None
    sys.stdout.write(out)
    sys.stderr.write("perfbench: JVM ran %.2f s\n" % (time.time() - t0))
    res = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res):
        sys.stderr.write("perfbench: JVM exited with %s\n" % proc.returncode)
        return None
    with open(res) as f:
        return json.load(f)


def run_workload(out, workload, args):
    """One workload in its own JVM and temporary directory; the result
    with `correct` set from every check, or None if the run broke."""
    work = tempfile.mkdtemp(prefix="run-", dir=build.build_root())
    try:
        result = run_jvm(out, work, workload, args)
        if result is None:
            return None
        problems = result.pop("problems")
        oracle_dir = os.path.join(work, "oracle")
        if os.path.isdir(oracle_dir):
            import oracle
            t0 = time.time()
            problems += oracle.check(oracle_dir)
            sys.stderr.write("perfbench: oracle check took %.2f s\n" % (time.time() - t0))
        for p in problems:
            print("CHECK FAILED: " + p)
        result["correct"] = not problems
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    args = parse()
    out = build.build()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        results[name] = run_workload(out, name, args)
        if results[name] is None:
            return 1
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(final, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
