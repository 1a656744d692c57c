"""Per-layer tracing for the benchmark's traced runs.

A span is one call into a public function of a ``neontology_spark``
module (or one benchmark-level step such as a query or a standalone
probe). While a span is open the benchmark sets a Spark job group named
after it, so the session's event log attributes every job, stage and
task to the innermost open span. Spans are kept in memory and joined
with the event log after the session stops.

Lazy operators only build plans; their jobs run in the span of whichever
call triggers the action (``audit.AuditStore.append`` for the audited
run, the query span for the operator registry). The benchmark therefore
also runs standalone probes (``fn(df)`` plus one action, inside a span
named ``probe:<fn>``) where a layer's own execution cost is wanted.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict

# modules whose public functions become spans, relative to neontology_spark
MODULES = (
    "images", "fused", "audit", "checks.core", "checks.stats", "checks.drift",
    "checks.referential", "components", "dedup", "similarity", "upsert",
    "relationships", "filters", "query", "textops", "nodes", "sampling",
    "streaming", "multimodal", "tools.import_records", "tools.import_files",
    "tools.dump",
)
METHODS = {
    "audit": {
        "AuditStore": ("append", "read", "completed_parts", "mark_completed"),
        "ValidationRun": ("run",),
    },
}
# functions shipped to Python workers as UDF bodies are left alone
_SKIP = ("kernel", "batches", "arrow")

PKG = "neontology_spark"


class Tracer:
    """Span stack + job-group bookkeeping. ``enabled=False`` makes every
    call a no-op so untraced passes pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _set_group(self, idx):
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{idx}", self.spans[idx]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "parent": parent, "t0": time.time(), "t1": None})
        self._stack.append(idx)
        self._set_group(idx)
        try:
            yield
        finally:
            self.spans[idx]["t1"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    # -- module instrumentation ---------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Replace public functions (and the listed methods) of ``MODULES``
        by span wrappers, including every alias other package modules
        imported by name."""
        wrappers = {}  # id(original function) -> its wrapper
        for rel in MODULES:
            mod = importlib.import_module(f"{PKG}.{rel}")
            for attr, obj in list(vars(mod).items()):
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and not attr.startswith("_")
                    and not any(s in attr for s in _SKIP)
                ):
                    w = self._wrap(f"{rel}.{attr}", obj)
                    wrappers[id(obj)] = w
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)
            for cls_name, meths in METHODS.get(rel, {}).items():
                cls = getattr(mod, cls_name)
                for m in meths:
                    obj = cls.__dict__[m]
                    self._patched.append((cls, m, obj))
                    setattr(cls, m, self._wrap(f"{rel}.{cls_name}.{m}", obj))
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and getattr(mod, attr) is not w:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._patched):
            setattr(owner, attr, obj)
        self._patched.clear()


# ---------------------------------------------------------------------------
# event-log attribution
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics of the one application in
    ``log_dir``: ``{"jobs": {id: {"group", "submit", "stages"}},
    "stages": {id: {"busy_s", "input_mb", "shuffle_mb"}}}`` (completed
    stages only)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    jobs, stages, done = {}, defaultdict(lambda: [0.0, 0.0, 0.0]), set()
    with open(os.path.join(log_dir, sorted(files)[0])) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"] / 1000.0,
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerStageCompleted":
                done.add(e["Stage Info"]["Stage ID"])
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                s = stages[e["Stage ID"]]
                s[0] += m.get("Executor Run Time", 0) / 1000.0
                s[1] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                s[2] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ) / 2**20
    return {
        "jobs": jobs,
        "stages": {
            sid: {"busy_s": v[0], "input_mb": v[1], "shuffle_mb": v[2]}
            for sid, v in stages.items()
            if sid in done
        },
    }


def attribute(spans: list[dict], log: dict) -> list[dict]:
    """Give every span inclusive ``jobs``, ``stages``, ``busy_s``,
    ``input_mb`` and ``shuffle_mb`` plus ``s`` and ``self_s``. A job goes
    to the span named by its job group, or, for jobs submitted from
    helper threads without one, to the innermost span open at its
    submission time. A stage is counted once, under its first job."""
    for sp in spans:
        sp.update(s=sp["t1"] - sp["t0"], child_s=0.0, jobs=0, stages=0,
                  busy_s=0.0, input_mb=0.0, shuffle_mb=0.0)
    for sp in spans:
        if sp["parent"] is not None:
            spans[sp["parent"]]["child_s"] += sp["s"]
    for sp in spans:
        sp["self_s"] = sp["s"] - sp.pop("child_s")

    def owner(job) -> int | None:
        g = job["group"]
        if g and g.startswith("pb") and g[2:].isdigit() and int(g[2:]) < len(spans):
            return int(g[2:])
        best = None
        for i, sp in enumerate(spans):
            if sp["t0"] <= job["submit"] <= sp["t1"]:
                best = i  # later-opened containing spans are deeper
        return best

    seen_stages = set()
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        idx = owner(job)
        if idx is None:
            continue
        mine = [s for s in job["stages"] if s in log["stages"] and s not in seen_stages]
        seen_stages.update(mine)
        while idx is not None:
            sp = spans[idx]
            sp["jobs"] += 1
            sp["stages"] += len(mine)
            for s in mine:
                for k in ("busy_s", "input_mb", "shuffle_mb"):
                    sp[k] += log["stages"][s][k]
            idx = sp["parent"]
    return spans


FIELDS = ("s", "self_s", "jobs", "stages", "busy_s", "input_mb", "shuffle_mb")


def by_name(spans: list[dict]) -> dict[str, dict]:
    """Sum span fields per span name over outermost occurrences (a span
    nested in a same-named span is already inside its total)."""
    out: dict[str, dict] = {}
    for sp in spans:
        p, nested = sp["parent"], False
        while p is not None:
            if spans[p]["name"] == sp["name"]:
                nested = True
                break
            p = spans[p]["parent"]
        if nested:
            continue
        agg = out.setdefault(sp["name"], dict.fromkeys(FIELDS, 0.0) | {"calls": 0})
        agg["calls"] += 1
        for f in FIELDS:
            agg[f] += sp[f]
    return out


def layer_of(span_name: str) -> str:
    """Module group of a function span: ``checks.stats.numeric_quantiles``
    -> ``checks.stats``, ``tools.import_records.import_records`` ->
    ``tools``, ``components.connected_components`` -> ``components``."""
    parts = span_name.split(".")
    return ".".join(parts[:2]) if parts[0] == "checks" else parts[0]


def query_groups(spans: list[dict]) -> dict[str, dict]:
    """Operator-query spans (``bench.query.<name>``) summed per module
    group of the first repo function each query calls."""
    first_child: dict[int, str] = {}
    for sp in spans:
        p = sp["parent"]
        if p is not None and spans[p]["name"].startswith("bench.query.") and p not in first_child:
            first_child[p] = layer_of(sp["name"])
    out: dict[str, dict] = {}
    for i, sp in enumerate(spans):
        if sp["name"].startswith("bench.query."):
            agg = out.setdefault(first_child.get(i, "other"),
                                 {"calls": 0, "s": 0.0, "jobs": 0, "busy_s": 0.0})
            agg["calls"] += 1
            for f in ("s", "jobs", "busy_s"):
                agg[f] += sp[f]
    return out


def summarize_layers(spans: list[dict]) -> dict:
    """Everything ``metrics.layer_values`` needs from one traced run."""
    names = by_name(spans)
    passes = [sp for sp in spans if sp["name"] == "bench.pass"]
    return {
        "passes": len(passes),
        "resumes": sum(1 for sp in spans if sp["name"] == "bench.resume"),
        "n_spans": len(spans),
        "pass": {f: sum(sp[f] for sp in passes) for f in ("s", "jobs", "stages", "busy_s")},
        "spans": names,
        "probes": {k[len("probe:"):]: v for k, v in names.items() if k.startswith("probe:")},
        "query_groups": query_groups(spans),
    }
