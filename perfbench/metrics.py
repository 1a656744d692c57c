"""Metric definitions: the end-to-end metrics every untraced run reports,
and the per-layer metrics every traced run reports (0 where a layer does
not run in that workload). ``python3 perfbench/metrics.py`` prints the
``per_layer`` list for BENCHMARK.json."""

from __future__ import annotations

import json

# -- end to end ---------------------------------------------------------------

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "rss_mb": "MB",
}


def end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    s = res["summary"]
    vals = {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": s["wall_s"],
        "rows_per_s": s["rows_per_s"],
        "op_p50_s": s["op_p50_s"],
        "op_p90_s": s["op_p90_s"],
        "rss_mb": res["memory"]["rss_mb"],
    }
    return {k: (vals[k], u) for k, u in END_TO_END.items()}


# -- per layer ----------------------------------------------------------------

UNITS = {"s": "s", "self_s": "s", "busy_s": "s", "jobs": "count", "stages": "count",
         "input_mb": "MB", "shuffle_mb": "MB"}
ALL = ("s", "self_s", "jobs", "stages", "busy_s", "input_mb", "shuffle_mb")
EXEC = ("s", "jobs", "stages", "busy_s", "input_mb", "shuffle_mb")

# spans inside timed passes, reported per pass: span name -> fields
PASS_SPANS = {
    "fused.fused_validation_summary": ALL,
    "components.connected_components": ("s", "self_s", "jobs", "stages"),
    "similarity.embedding_near_duplicates": ("s", "self_s", "jobs", "busy_s"),
    "checks.drift.quantile_drift": ("s", "self_s", "jobs", "busy_s"),
    "checks.stats.numeric_quantiles": ("s", "jobs", "busy_s"),
    "upsert.merge_keyed": ("s",),
}
# spans inside the traced audited resume (fused_scan), reported per resume
RESUME_SPANS = {
    "audit.ValidationRun.run": ("s", "self_s", "jobs", "stages", "busy_s"),
    "audit.AuditStore.append": EXEC,
    "audit.AuditStore.completed_parts": ("s", "jobs"),
}
# standalone probes (traced runs only), reported per probe: layer -> fields
PROBES = {
    "fused.metadata_rollup": EXEC,
    "images.check_payload_files": ("s", "jobs", "busy_s"),
    "checks.core.duplicate_keys": ("s", "jobs", "busy_s", "shuffle_mb"),
    "images.check_payload": ("s", "jobs", "busy_s", "input_mb"),
    "checks.core.check_unique": EXEC,
    "checks.core.check_required": ("s", "jobs", "busy_s", "input_mb"),
    "checks.core.check_domain": ("s", "jobs", "busy_s", "input_mb"),
    "checks.stats.column_stats": ("s", "jobs", "busy_s", "input_mb", "shuffle_mb"),
}
# operator queries grouped by the first repo module they call: seconds,
# jobs and, for the data-bound groups, executor seconds per query call
QUERY_GROUPS = ("components", "dedup", "similarity", "checks.drift", "upsert", "relationships",
                "filters", "query", "textops", "nodes", "sampling", "streaming", "multimodal",
                "tools")
BUSY_GROUPS = ("components", "similarity", "checks.drift", "upsert", "relationships")
COUNTERS = {
    "audit.files_written": "count",
    "audit.bytes_written_mb": "MB",
    "audit.rescan_ratio": "ratio",
    "audit.duplicate_verdict_rows": "count",
}
SPARK = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.busy_s": "s",
    "spark.slot_util": "ratio",
    "fused.overlap_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "mem.peak_rss_mb": "MB",
}


def per_layer_spec() -> dict[str, str]:
    spec = dict(SPARK)
    for name, fields in (PASS_SPANS | RESUME_SPANS).items():
        spec.update({f"{name}.{f}": UNITS[f] for f in fields})
    for name, fields in PROBES.items():
        spec.update({f"{name}.{f}": UNITS[f] for f in fields})
    for g in QUERY_GROUPS:
        spec[f"ops.{g}.s"] = "s"
        spec[f"ops.{g}.jobs"] = "count"
        if g in BUSY_GROUPS:
            spec[f"ops.{g}.busy_s"] = "s"
    spec.update(COUNTERS)
    return spec


def layer_values(res: dict) -> dict[str, tuple[float, str]]:
    lay = res["layers"]
    n = lay["passes"]
    tot, probes, groups = lay["spans"], lay["probes"], lay["query_groups"]
    vals: dict[str, float] = {
        "spark.jobs": lay["pass"]["jobs"] / n,
        "spark.stages": lay["pass"]["stages"] / n,
        "spark.busy_s": lay["pass"]["busy_s"] / n,
        "spark.slot_util": lay["pass"]["busy_s"] / (lay["pass"]["s"] * res["host"]["nproc"]),
        "trace.overhead_s": res["trace_overhead_s"],
        "trace.spans": lay["n_spans"] / n,
        "fused.overlap_s": 0.0,
        "mem.peak_rss_mb": res["memory"]["peak_rss_mb"],
    }
    for spans, per in ((PASS_SPANS, n), (RESUME_SPANS, max(1, lay["resumes"]))):
        for name, fields in spans.items():
            agg = tot.get(name, {})
            vals.update({f"{name}.{f}": agg.get(f, 0.0) / per for f in fields})
    for name, fields in PROBES.items():
        agg = probes.get(name, {})
        vals.update({f"{name}.{f}": agg.get(f, 0.0) for f in fields})
    if "fused.metadata_rollup" in probes:
        standalone = sum(probes[p]["s"] for p in (
            "fused.metadata_rollup", "images.check_payload_files", "checks.core.duplicate_keys"))
        vals["fused.overlap_s"] = standalone - res["traced_summary"]["wall_s"]
    for g in QUERY_GROUPS:
        agg = groups.get(g, {})
        calls = max(1, agg.get("calls", 0))
        vals[f"ops.{g}.s"] = agg.get("s", 0.0) / calls
        vals[f"ops.{g}.jobs"] = agg.get("jobs", 0.0) / calls
        if g in BUSY_GROUPS:
            vals[f"ops.{g}.busy_s"] = agg.get("busy_s", 0.0) / calls
    for k, xs in res.get("counters", {}).items():
        vals[k] = sum(xs) / len(xs)
    spec = per_layer_spec()
    return {k: (float(vals.get(k, 0.0)), u) for k, u in spec.items()}


def describe(workload: str, res: dict) -> list[str]:
    """Human-readable lines printed before the result line."""
    s, h, mem = res["summary"], res["host"], res["memory"]
    lines = [
        f"host: nproc={h['nproc']} ram_gb={h['ram_gb']} spark={h.get('spark')} "
        f"java={h.get('java')} python={h['python']} steal_share={h.get('steal_share', 0):.3f}",
        f"inputs: {json.dumps(res['inputs'], sort_keys=True)}",
        "setup: " + " ".join(f"{k}={v:.3f}" for k, v in res["setup"].items()),
        f"{workload}: passes={s['passes']} wall_s={s['wall_s']:.3f} "
        f"(raw {s['raw_wall_s']:.3f}, steal {s['steal']:.3f}) "
        f"op_p50_s={s['op_p50_s']:.4f} op_p90_s={s['op_p90_s']:.4f} "
        f"(n={s['op_samples']}, {s['op_samples_above_p90']} above p90) "
        f"rows_per_s={s['rows_per_s']:.1f} rss_mb={mem['rss_mb']:.1f} "
        f"peak_rss_mb={mem['peak_rss_mb']:.1f} (n={mem['rss_samples']}) "
        f"error_rate={res['failed'] / res['attempted']:.4f}",
    ]
    if s["slowest_ops"]:
        lines.append("slowest ops: " + ", ".join(f"{n}={t:.3f}" for t, n in s["slowest_ops"]))
    if "traced_summary" in res:
        t = res["traced_summary"]
        lines.append(f"traced: passes={t['passes']} wall_s={t['wall_s']:.3f} "
                     f"overhead_s={res['trace_overhead_s']:.3f} (median of paired passes)")
    return lines


HIGHER_IS_BETTER = ("spark.slot_util", "fused.overlap_s")

if __name__ == "__main__":
    print(json.dumps([
        {"name": k, "unit": u, "better": "higher" if k in HIGHER_IS_BETTER else "lower"}
        for k, u in per_layer_spec().items()
    ], indent=2))
