#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload fused_scan --seed 1 --seconds 10 --trace 0

Runs one workload in a child process (``worker.py``) from the root of a
checkout, samples the resident memory of the child's whole process tree
(driver Python, JVM, Python workers) every 50 ms while it measures, and
prints human
readable lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. Exits non-zero, without a result line, when the
workload cannot run or an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

TIMEOUT_S = 170
PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * PAGE
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (driver, JVM, Python workers) and
    wait until every member has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for i in range(100):
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                proc.wait()
                return
            if i == 0:
                os.killpg(proc.pid, sig)
            time.sleep(0.1)
    proc.wait()


def run_worker(args, work: str) -> tuple[dict | None, list[float]]:
    out = os.path.join(work, "result.json")
    flag = os.path.join(work, "measuring")
    # keep every file Spark, the JVM launcher and Python write in the work dir
    env = dict(os.environ, TMPDIR=work, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData", PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    log = open(os.path.join(work, "worker.log"), "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    samples: list[float] = []
    deadline = time.monotonic() + TIMEOUT_S
    try:
        while proc.poll() is None and time.monotonic() < deadline:
            if os.path.exists(flag):
                samples.append(tree_rss_bytes(proc.pid) / 2**20)
            time.sleep(0.05)
    finally:
        stop_group(proc)
        log.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log")) as fh:
            tail = fh.read()[-3000:]
        print(f"worker failed (exit {proc.returncode}):\n{tail}", file=sys.stderr)
        return None, []
    with open(out) as fh:
        return json.load(fh), samples


def _terminate(signum, frame):
    # turn SIGTERM into an exception so the worker group is still stopped
    raise SystemExit(128 + signum)


def main() -> int:
    import metrics
    from workloads import WORKLOADS

    signal.signal(signal.SIGTERM, _terminate)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, rss = run_worker(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if res is None:
        return 1
    res["memory"] = {"rss_mb": statistics.median(rss), "peak_rss_mb": max(rss),
                     "rss_samples": len(rss)} if rss else {"rss_mb": 0.0, "peak_rss_mb": 0.0,
                                                        "rss_samples": 0}
    for line in metrics.describe(args.workload, res):
        print(line)
    for err in res["errors"]:
        print("error:", err.strip().splitlines()[-1], file=sys.stderr)
    if res["failed"]:
        return 1
    values = metrics.layer_values(res) if args.trace else metrics.end_to_end(res)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
