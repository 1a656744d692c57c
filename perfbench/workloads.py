"""The benchmark's workloads. Each one times the repo's public entry
points and checks every output:

* ``fused_scan``  — ``fused.fused_validation_summary`` over a parquet
  image table; per-check counts must equal the planted expectation.
  Its traced runs also run the audited path (``AuditedResume``): the
  ``validate.py`` check set through ``audit.ValidationRun`` into a fresh
  ``AuditStore``, an interrupted run over partitions 0-7, then a resume
  over the whole table; the stored violation and verdict sets must equal
  a one-shot run's.
* ``operators``   — a fixed list of ``__spark_entry__.queries()`` over
  seeded tables at two scales; every query's rows must equal its
  ``oracle_sql()`` DuckDB result.

A workload exposes ``setup(spark, tracer)``, ``run_pass()`` (one timed
pass: ``wall_s``, per-operation latencies ``ops``, ``attempted``,
``failed``), ``probes(tracer)`` (traced runs only) and ``rows``.

Every time is corrected for the load of other machines on the shared
host, as measured by hypervisor steal (``Interval``): that load changes
over minutes and stretches every timing of a run alike.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_PARTS = 16
PSNR_SAMPLE_ROWS = 8  # bench.py's default estimator
STAT_COLS = ["image_id", "w", "h", "fmt", "caption", "phash"]
HIST_EDGES = [0.0, 16, 32, 48, 64, 80, 96, 112, 128, 160]


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


# How much a block's wall time grows per unit of steal share. Steal is
# the visible part of the load other machines put on the shared host; the
# same load also slows the cycles that are not stolen (shared cores and
# caches). Across runs on a 4-vCPU host at 0-30 % steal, pass walls of
# both workloads grew by 2-2.4 times the steal share; 2 is the low end.
LOAD_PER_STEAL = 2.0


class Interval:
    """Times a block. ``raw_s`` is its wall time; ``steal`` the share of
    the machine's CPU time that the hypervisor took while the block ran
    (stolen ÷ (busy + stolen)); ``s`` is the wall time corrected for that
    load, ``raw_s / (1 + LOAD_PER_STEAL * steal)``: an estimate of the
    time the block takes on an unshared host."""

    def __enter__(self):
        self.b0, self.st0 = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.raw_s = time.perf_counter() - self.t0
        b1, st1 = cpu_ticks()
        busy, stolen = b1 - self.b0, st1 - self.st0
        self.steal = stolen / (busy + stolen) if busy + stolen > 0 else 0.0
        self.s = self.raw_s / (1.0 + LOAD_PER_STEAL * self.steal)
        return False


class Workload:
    rows = 0
    # seconds of measuring that one pass stands for: a run makes
    # round(seconds / NOMINAL_PASS_S) passes, at least one
    NOMINAL_PASS_S = 10.0
    # untimed passes in set-up: the first one is cold, and the passes
    # after it still get faster while the JIT compiles the hot paths
    WARMUP_PASSES = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.setup_times: dict[str, float] = {}
        self.counters: dict[str, list[float]] = {}
        self.tracer = None

    def _timed(self, key: str, fn):
        t = time.perf_counter()
        out = fn()
        self.setup_times[key] = time.perf_counter() - t
        return out

    def _warm_up(self) -> None:
        self._timed("warmup_s", lambda: [self.run_pass() for _ in range(self.WARMUP_PASSES)])

    def _attempt(self, span: str, run, check) -> tuple[Interval, bool, str | None]:
        """One operation: time ``run()`` inside a span, then ``check`` its
        output outside the timing. Returns (interval, ok, error)."""
        iv = Interval()
        try:
            with iv, self.tracer.span(span):
                out = run()
            ok = bool(check(out))
            return iv, ok, None if ok else "output check failed"
        except Exception:  # noqa: BLE001 - an operation that raises is counted, not fatal
            return iv, False, traceback.format_exc(limit=3)

    def count(self, key: str, value: float) -> None:
        self.counters.setdefault(key, []).append(value)

    def probes(self, tracer) -> dict | None:
        """Traced runs only: standalone calls after the passes. Returns
        ``attempted``/``failed``/``errors`` when the calls are checked."""
        return None


# ---------------------------------------------------------------------------
# fused_scan
# ---------------------------------------------------------------------------


def image_rows(base: int, seed: int) -> int:
    """Image-table size for a seed: the seed moves the row count within
    one period of the planted phash cluster, so inputs differ per seed
    while the planted expectation stays computable."""
    return base + seed % 97


def write_images(path: str, n: int, files: int, by_part: bool) -> int:
    """Write ``generate_images(n, N_PARTS)``'s rows as parquet: ``files``
    flat files over contiguous row ranges (the layout Spark writes for
    it), or one ``part=<k>/`` directory per partition. Rows come from
    the same per-batch synthesis ``generate_images`` maps over
    ``spark.range``, run in this process so set-up pays no Spark job.
    Returns the bytes written."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from neontology_spark import images as im

    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("part", pa.int32()),
    ])
    pdf = im._gen_batch(pd.DataFrame({"id": np.arange(n, dtype=np.int64)}), N_PARTS)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    if by_part:
        for k in range(N_PARTS):
            d = os.path.join(path, f"part={k}")
            os.makedirs(d)
            rows = table.filter(pc.equal(table["part"], k)).drop_columns(["part"])
            pq.write_table(rows, os.path.join(d, "part-00000.parquet"))
    else:
        os.makedirs(path)
        bounds = np.linspace(0, n, files + 1).astype(int)
        for f in range(files):
            pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                           os.path.join(path, f"part-{f:05d}.parquet"))
    return _dir_size(path)[1]


def planted_expectation(n: int) -> dict[str, int]:
    """Per-check violation counts ``fused_validation_summary`` must report
    for ``generate_images(n)``, from the ``images.py`` plant constants."""
    from neontology_spark import images as im

    dup_members = 2 * len(im.DUP_ID_PAIRS)
    hot = len(range(5, n, 97))  # rows with i % 97 == 5 share HOT_PHASH
    return {
        "unique__pp": dup_members,
        # full-clone duplicate rows also share their source's phash
        "unique__phash": hot + dup_members,
        "required_not_null": len(im.NULL_FMT_ROWS),
        "value_domain": len(im.BAD_FMT_ROWS),
        "payload_invariants": len(im.CORRUPT_ROWS) + len(im.CAPTION_MISMATCH_ROWS),
    }


class FusedScan(Workload):
    BASE_ROWS = 12_000
    NOMINAL_PASS_S = 1.25
    WARMUP_PASSES = 3

    def setup(self, spark, tracer):
        import __spark_entry__ as entry
        from neontology_spark.images import image_model

        entry._ensure_shipped(spark)
        self.spark, self.tracer, self.model = spark, tracer, image_model()
        self.rows = image_rows(self.BASE_ROWS, self.seed)
        self.path = os.path.join(self.work, "images.parquet")
        size = self._timed("inputs_s", lambda: write_images(self.path, self.rows, 64, False))
        self.expect = planted_expectation(self.rows)
        self._warm_up()
        return {"image_rows": self.rows, "image_mb": size / 2**20, "parts": N_PARTS}

    def summary(self):
        from neontology_spark.fused import fused_validation_summary

        return fused_validation_summary(
            self.spark, self.spark.read.parquet(self.path), self.model,
            stat_cols=STAT_COLS, hist_col="w", edges=HIST_EDGES,
            images_path=self.path, sample_rows=PSNR_SAMPLE_ROWS,
        )

    def run_pass(self):
        iv, ok, err = self._attempt(
            "bench.pass", self.summary,
            lambda got: got["per_check"] == self.expect and got["rows"] == (self.rows, N_PARTS),
        )
        return {"wall_s": iv.s, "raw_wall_s": iv.raw_s, "steal": iv.steal, "ops": [iv.s],
                "attempted": 1, "failed": int(not ok), "errors": [err] if err else []}

    def probes(self, tracer):
        """Standalone runs of the two actions the fused summary overlaps
        (the metadata rollup, and the uniqueness + payload action), then
        the audited path over its own image table."""
        from neontology_spark.checks.core import duplicate_keys
        from neontology_spark.fused import metadata_rollup
        from neontology_spark.images import check_payload_files

        df = self.spark.read.parquet(self.path)
        with tracer.span("probe:fused.metadata_rollup"):
            metadata_rollup(df, self.model, STAT_COLS, "w", HIST_EDGES).collect()
        with tracer.span("probe:images.check_payload_files"):
            check_payload_files(self.spark, self.path, sample_rows=PSNR_SAMPLE_ROWS).count()
        with tracer.span("probe:checks.core.duplicate_keys"):
            duplicate_keys(df, self.model.pp_storage).count()
            duplicate_keys(df, "phash", salted=True).count()
        audited = AuditedResume(self.seed, os.path.join(self.work, "audit"))
        checked = audited.traced(self.spark, tracer)
        self.counters.update(audited.counters)
        return checked


# ---------------------------------------------------------------------------
# audited path (traced fused_scan runs)
# ---------------------------------------------------------------------------


class AuditedResume(Workload):
    """The audited path, run in ``fused_scan``'s traced runs (``traced``).
    Set-up runs the check set once over the whole table (the reference)
    and once over partitions 0-7 (the interrupted run). Each pass resumes
    a fresh copy of the interrupted run's store over the whole table."""

    BASE_ROWS = 6_000
    FIRST_PARTS = 8  # the interrupted run completes partitions 0..7
    RUN_ID = "interrupted"

    def setup(self, spark, tracer):
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        from neontology_spark.images import image_model

        entry._ensure_shipped(spark)
        self.spark, self.tracer, self.model = spark, tracer, image_model()
        self.F = F
        self.rows = image_rows(self.BASE_ROWS, self.seed)
        self.path = os.path.join(self.work, "images.parquet")
        size = self._timed("inputs_s", lambda: write_images(self.path, self.rows, 0, True))
        self.table = spark.read.parquet(self.path)
        self.cycle = 0

        def one_shot():
            store = self._store("one_shot")
            self._run(self.table, store, "one_shot").run(resume=False)
            return self._stored_sets(store)

        def interrupted():
            store = self._store("interrupted")
            first = self.table.filter(F.col("part") < self.FIRST_PARTS)
            self._run(first, store, self.RUN_ID).run()
            return store.root

        # the one-shot reference run also warms the session up
        self.expect = self._timed("reference_s", one_shot)
        self.template = self._timed("interrupted_s", interrupted)
        self.template_size = _dir_size(self.template)
        return {"image_rows": self.rows, "image_mb": size / 2**20,
                "parts": N_PARTS, "reference_violation_keys": len(self.expect[0]),
                "reference_verdicts": len(self.expect[1])}

    def _store(self, name: str):
        from neontology_spark.audit import AuditStore

        root = os.path.join(self.work, "audit", name)
        shutil.rmtree(root, ignore_errors=True)
        return AuditStore(self.spark, root)

    def _run(self, table, store, run_id: str, global_hook=None):
        """The validate.py check set (exact PSNR, no baseline)."""
        from neontology_spark.audit import ValidationRun
        from neontology_spark.checks import check_domain, check_required, check_unique, column_stats
        from neontology_spark.checks.base import CheckResult
        from neontology_spark.images import check_payload

        m = self.model
        global_checks = [
            functools.partial(check_unique, model=m, part_col="part"),
            functools.partial(check_unique, model=m, column="phash", part_col="part",
                              salted=True, check_name="unique__phash"),
        ]
        if global_hook is not None:
            global_checks = [global_hook(c) for c in global_checks]
        return ValidationRun(
            spark=self.spark, table=table, label="Image", part_col="part",
            checks=[
                functools.partial(check_required, model=m, part_col="part"),
                functools.partial(check_domain, model=m, part_col="part"),
                lambda df: CheckResult("payload_invariants", "Image", check_payload(df)),
            ],
            global_checks=global_checks,
            store=store, run_id=run_id,
            metrics_fn=lambda df: column_stats(df, columns=STAT_COLS, part_col="part"),
        )

    def _stored_sets(self, store):
        vio = {(r["check"], r["key"]) for r in
               store.read("violations").select("check", "key").distinct().collect()}
        ver = {(r["part"], r["check"], r["passed"]) for r in
               store.read("verdicts").select("part", "check", "passed").distinct().collect()}
        return vio, ver

    def run_pass(self):
        self.cycle += 1
        store = self._store(f"resume{self.cycle}")
        shutil.copytree(self.template, store.root)
        scanned: list = []
        hook = None
        if self.tracer.enabled:
            def hook(check):
                def recorded(df):
                    scanned.append(df)
                    return check(df)
                return recorded

        iv, ok, err = self._attempt(
            "bench.resume", self._run(self.table, store, self.RUN_ID, hook).run,
            lambda _: self._stored_sets(store) == self.expect,
        )
        if self.tracer.enabled and ok:
            self._audit_counters(store, scanned)
        shutil.rmtree(store.root, ignore_errors=True)
        return {"wall_s": iv.s, "attempted": 1, "failed": int(not ok),
                "errors": [f"audited resume: {err}"] if err else []}

    def traced(self, spark, tracer) -> dict:
        """Set-up and one resume untraced (the warm-up), one traced
        resume, then the standalone check probes. Returns the checked
        resumes' ``attempted``/``failed``/``errors``."""
        tracer.enabled = False
        self.setup(spark, tracer)
        passes = [self.run_pass()]
        tracer.enabled = True
        passes.append(self.run_pass())
        self.probes(tracer)
        return {"attempted": len(passes), "failed": sum(p["failed"] for p in passes),
                "errors": [e for p in passes for e in p["errors"]]}

    def _audit_counters(self, store, scanned) -> None:
        F = self.F
        files, size = _dir_size(store.root)
        self.count("audit.files_written", files - self.template_size[0])
        self.count("audit.bytes_written_mb", (size - self.template_size[1]) / 2**20)
        ver = store.read("verdicts")
        self.count("audit.duplicate_verdict_rows",
                   ver.count() - ver.select("run_id", "part", "check").distinct().count())
        pending = self.table.filter(F.col("part") >= self.FIRST_PARTS).count()
        # rows of the DataFrame ValidationRun hands each global check, not
        # the rows the check's plan reads: pruning inside a check that is
        # still handed the whole table leaves this at 2.0
        self.count("audit.rescan_ratio",
                   sum(df.count() for df in scanned) / len(scanned) / pending)

    def probes(self, tracer):
        """Each check of the set on its own, one action per check over the
        whole table: the per-check cost the audited run pays inside its
        store appends."""
        from neontology_spark.checks import check_domain, check_required, check_unique, column_stats
        from neontology_spark.images import check_payload

        m, df = self.model, self.table
        with tracer.span("probe:checks.core.check_required"):
            check_required(df, m, part_col="part").violations.count()
        with tracer.span("probe:checks.core.check_domain"):
            check_domain(df, m, part_col="part").violations.count()
        with tracer.span("probe:images.check_payload"):
            check_payload(df).count()
        with tracer.span("probe:checks.core.check_unique"):
            check_unique(df, m, part_col="part").violations.count()
            check_unique(df, m, column="phash", part_col="part", salted=True,
                         check_name="unique__phash").violations.count()
        with tracer.span("probe:checks.stats.column_stats"):
            column_stats(df, columns=STAT_COLS, part_col="part").count()


# ---------------------------------------------------------------------------
# operator registry
# ---------------------------------------------------------------------------


class Operators(Workload):
    """Registry queries at two scales of seeded tables: job-count-bound
    queries (filters, streaming, connected components and the light
    query, textops, nodes and sampling modules) over small tables, and
    data-bound ones (quantile drift, keyed upsert, embedding similarity)
    over tables three times larger. Traced runs also probe one query
    each of the costlier dedup, multimodal, tools and relationships
    modules."""

    NOMINAL_PASS_S = 5.0
    SCALES = {
        0.01: ("f2_filter_strings", "sessionize", "dedup_components", "run_query_escape",
               "text_profile", "f3_match_nodes_keyset", "stratified_sample"),
        0.03: ("quantile_drift", "merge_upsert", "embedding_near_dup"),
    }
    # each adds 2-5 s to every run (warm-up and pass), so they run in
    # traced runs only, over the sf0.01 tables
    PROBE_QUERIES = ("dedup_exact", "multimodal_audio", "s6_import_records",
                     "s4_merge_relationships")

    def setup(self, spark, tracer):
        import duckdb

        import __spark_entry__ as entry
        import datagen

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from replay_oracles import TABLES, normalize

        self.spark, self.tracer, self.normalize = spark, tracer, normalize
        self.plan = [(sf, q) for sf, qs in self.SCALES.items() for q in qs]
        self.dirs = {sf: os.path.join(self.work, f"sf{sf}") for sf in self.SCALES}
        sizes = self._timed("inputs_s", lambda: {
            sf: datagen.write_tables(d, self.seed, sf) for sf, d in self.dirs.items()
        })
        self.rows = sum(v["rows"] for per in sizes.values() for v in per.values())
        self.fns, oracles = entry.queries(), entry.oracle_sql()

        def run_oracles():
            out = {}
            for sf, qs in self.SCALES.items():
                if sf == 0.01:
                    qs = qs + self.PROBE_QUERIES
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{self.dirs[sf]}/{t}.parquet')")
                for q in qs:
                    res = con.execute(oracles[q])
                    cols = [d[0] for d in res.description]
                    out[q] = (sorted(c.lower() for c in cols), normalize(res.fetchall(), cols))
                con.close()
            return out

        self.expect = self._timed("oracles_s", run_oracles)
        self._warm_up()
        return {
            "queries": len(self.plan),
            "tables": {f"sf{sf}": {k: {"rows": v["rows"], "mb": round(v["mb"], 3)}
                                   for k, v in per.items()} for sf, per in sizes.items()},
        }

    def _query(self, sf: float, name: str):
        def run():
            sdf = self.fns[name](self.spark, self.dirs[sf])
            return sdf.columns, [tuple(r) for r in sdf.collect()]

        def check(out):
            cols, want = self.expect[name]
            return sorted(c.lower() for c in out[0]) == cols and \
                self.normalize(out[1], out[0]) == want

        return self._attempt(f"bench.query.{name}", run, check)

    def run_pass(self):
        ops, failed, errors = [], 0, []
        with Interval() as iv, self.tracer.span("bench.pass"):
            for sf, q in self.plan:
                op, ok, err = self._query(sf, q)
                ops.append(op.s)
                if not ok:
                    failed += 1
                    errors.append(f"{q}: {err}")
        return {"wall_s": iv.s, "raw_wall_s": iv.raw_s, "steal": iv.steal, "ops": ops,
                "op_names": [q for _, q in self.plan],
                "attempted": len(ops), "failed": failed, "errors": errors}

    def probes(self, tracer):
        """Each probe query once untraced, to warm it up, then once in
        its query span."""
        failed, errors = 0, []
        for q in self.PROBE_QUERIES:
            tracer.enabled = False
            self._query(0.01, q)
            tracer.enabled = True
            _, ok, err = self._query(0.01, q)
            if not ok:
                failed += 1
                errors.append(f"{q}: {err}")
        return {"attempted": len(self.PROBE_QUERIES), "failed": failed, "errors": errors}


WORKLOADS = {
    "fused_scan": FusedScan,
    "operators": Operators,
}
