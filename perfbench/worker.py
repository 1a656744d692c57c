"""One benchmark run inside its own process: build a host-sized Spark
session, set up the workload's inputs, measure closed-loop passes for the
requested seconds, check every output, and write a JSON result file.

Started by ``run.py``; not meant to be run by hand. All scratch state
(tables, audit stores, Spark local dirs, event logs, temp files) lives
under ``--work``, which ``run.py`` deletes afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {"nproc": cpus, "ram_gb": round(mem_kb / 2**20, 1), "python": platform.python_version()}


def driver_heap_gb(ram_gb: float) -> int:
    """A sixth of host RAM, between 1 and 2 GB: the inputs are at most a
    few hundred MB, and the machine is shared. The heap is committed and
    touched at start (-Xms, AlwaysPreTouch) so resident memory does not
    depend on when the collector grows it."""
    return max(1, min(2, int(ram_gb // 6)))


def build_session(work: str, info: dict, trace: bool):
    from pyspark.sql import SparkSession

    cpus, heap = info["nproc"], driver_heap_gb(info["ram_gb"])
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.files.openCostInBytes", "4m")
        .config("spark.driver.memory", f"{heap}g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.hadoop.hadoop.tmp.dir", os.path.join(work, "hadoop"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap}g -XX:+AlwaysPreTouch -XX:ActiveProcessorCount={cpus} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work} "
            f"-Dderby.system.home={work}",
        )
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    info["spark"] = spark.version
    info["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return spark


def percentile(xs: list[float], q: int) -> float:
    """The q-th percentile (inclusive interpolation); a lone sample is
    its own percentile."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def measure(n_passes: int, one_pass, flag: str) -> list:
    """Closed loop: ``n_passes`` calls of ``one_pass`` back to back.
    ``flag`` is a file that exists while they run (the parent samples
    memory only then)."""
    open(flag, "w").close()
    try:
        return [one_pass(i) for i in range(n_passes)]
    finally:
        os.remove(flag)


def traced_pair(wl, tracer, i: int) -> tuple[dict, dict]:
    """One untraced and one traced pass, in alternating order so that
    drift between passes cancels in the median of the paired
    differences. The span wrappers are installed only for the traced
    pass."""
    out = {}
    for traced in ((False, True) if i % 2 == 0 else (True, False)):
        if traced:
            tracer.install()
            tracer.enabled = True
        try:
            out[traced] = wl.run_pass()
        finally:
            if traced:
                tracer.enabled = False
                tracer.uninstall()
    return out[False], out[True]


def summarize(passes: list[dict], rows: int) -> dict:
    walls = [p["wall_s"] for p in passes]
    ops = [t for p in passes for t in p["ops"]]
    wall, p90 = statistics.median(walls), percentile(ops, 90)
    return {
        "wall_s": wall,
        "raw_wall_s": statistics.median(p["raw_wall_s"] for p in passes),
        "steal": statistics.median(p["steal"] for p in passes),
        "rows_per_s": rows / wall,
        "op_p50_s": statistics.median(ops),
        "op_p90_s": p90,
        "passes": len(passes),
        "op_samples": len(ops),
        "op_samples_above_p90": sum(1 for t in ops if t > p90),
        "slowest_ops": sorted(
            ((t, n) for p in passes for t, n in zip(p["ops"], p.get("op_names", ()))),
            reverse=True,
        )[:5],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # fail before starting Spark when the repo's modules are missing
    import __spark_entry__  # noqa: F401
    import neontology_spark  # noqa: F401
    import workloads
    from spans import Tracer
    from workloads import Interval

    wl = workloads.WORKLOADS[args.workload](seed=args.seed, work=args.work)
    # the same number of passes in every run, filling about --seconds here
    n_passes = max(1, round(args.seconds / wl.NOMINAL_PASS_S))
    info = host_info()
    with Interval() as session:
        spark = build_session(args.work, info, bool(args.trace))
    tracer = Tracer(spark, enabled=False)
    try:
        with Interval() as setup:
            inputs = wl.setup(spark, tracer)
        flag = os.path.join(args.work, "measuring")
        with Interval() as measuring:
            if args.trace:
                # the first pass after the warm-up is still slower than the
                # later ones; left out, it cannot bias the paired differences
                checked = [wl.run_pass()]
                # two passes per pair, then the probes: a quarter as many
                # pairs as untraced passes keeps the run within its time limit
                n_pairs = max(1, n_passes // 4)
                pairs = measure(n_pairs, lambda i: traced_pair(wl, tracer, i), flag)
                passes = [p for pair in pairs for p in pair]
            else:
                checked = []
                passes = measure(n_passes, lambda i: wl.run_pass(), flag)
        checked += passes
        # hypervisor steal while the passes ran; every reported time is
        # corrected for it
        info["steal_share"] = measuring.steal
        result = {
            "summary": summarize(passes[0::2] if args.trace else passes, wl.rows),
            "setup": {"setup_s": session.s + setup.s, "raw_setup_s": session.raw_s + setup.raw_s,
                      "session_s": session.s, **wl.setup_times},
        }
        if args.trace:
            result["traced_summary"] = summarize(passes[1::2], wl.rows)
            tracer.install()
            tracer.enabled = True
            probed = wl.probes(tracer)
            tracer.enabled = False
            tracer.uninstall()
            if probed:
                checked.append(probed)
            result["trace_overhead_s"] = statistics.median(
                t["wall_s"] - u["wall_s"] for u, t in pairs)
    finally:
        spark.stop()
    attempted = sum(p["attempted"] for p in checked)
    failed = sum(p["failed"] for p in checked)
    result.update(
        host=info,
        inputs=inputs,
        attempted=attempted,
        failed=failed,
        errors=[e for p in checked for e in p.get("errors", [])][:20],
    )
    if args.trace:
        from spans import attribute, read_event_log, summarize_layers

        log = read_event_log(os.path.join(args.work, "eventlog"))
        result["layers"] = summarize_layers(attribute(tracer.spans, log))
        result["counters"] = wl.counters
    with open(args.out, "w") as fh:
        json.dump(result, fh, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
