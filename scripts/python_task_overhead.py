#!/usr/bin/env python
"""Fixed cost of one Spark Python task, with and without neontology_spark
imported in the workers. Usage:

    python scripts/python_task_overhead.py

Runs an empty 32-task ``mapInArrow`` on ``local[4]`` twice per mode (the
first run warms the workers up) and prints, for the warm run, the median
gap between consecutive tasks in one worker process: the time from one
task's kernel returning to the next task's kernel starting, which holds
the worker's per-task set-up (``setup_spark_files``, unpickling the
command) and the scheduler round trip. The run without the package goes
first: importing it installs ``neontology_spark.worker_imports`` into
each worker for good. Also prints the job's wall time and how many worker
processes ran the tasks.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_TASKS = 32


def _kernel(with_package: bool):
    def kernel(it):
        import pyarrow as pa

        start = time.time()
        if with_package:
            import neontology_spark  # noqa: F401  (installs worker_imports)
        for _ in it:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "t0": start, "t1": time.time()}]
        )

    return kernel


def task_gaps(spark, with_package: bool) -> tuple[float, float, int]:
    """(median gap s, job wall s, worker processes) of one warm run."""
    df = spark.range(N_TASKS, numPartitions=N_TASKS).mapInArrow(
        _kernel(with_package), "pid long, t0 double, t1 double"
    )
    df.collect()  # warm-up: starts the workers (and installs the package)
    wall = time.perf_counter()
    rows = df.collect()
    wall = time.perf_counter() - wall
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append((r["t0"], r["t1"]))
    gaps = []
    for spans in by_pid.values():
        spans.sort()
        gaps += [b[0] - a[1] for a, b in zip(spans, spans[1:])]
    return statistics.median(gaps), wall, len(by_pid)


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._ensure_shipped(spark)
    try:
        print(f"python {sys.version.split()[0]}, {N_TASKS} tasks, local[4]")
        for label, with_package in (("without", False), ("with", True)):
            gap, wall, pids = task_gaps(spark, with_package)
            print(
                f"{label:>7} neontology_spark: median task gap {gap * 1e3:7.1f} ms,"
                f" job wall {wall:5.2f} s, {pids} worker processes"
            )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
