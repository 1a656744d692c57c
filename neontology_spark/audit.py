"""Audit table + checkpoint-resume orchestration (north_rule: "resumable
from checkpoint with per-partition lineage + metrics rows persisted to an
Iceberg audit table").

The reference has no audit/lineage (its runs are interactive; failures
raise). At 10^12 rows a validation run is hours long and MUST be
resumable: every completed table-partition leaves a lineage row; a
resumed run anti-joins pending partitions against completed lineage and
processes only the remainder, with partition pruning pushing the pending
set into the scan.

Storage: parquet directories (append mode) under one audit root —
``{root}/verdicts``, ``{root}/violations``, ``{root}/metrics``,
``{root}/lineage``. On a real cluster these are Iceberg tables (atomic
append snapshots); parquet-append is the sandbox stand-in behind the same
writer API (SURVEY.md §7 risk register: thin IO seam, same logic).

Crash consistency: verdicts/violations/metrics are written BEFORE the
lineage marker for their partitions; "completed" is defined solely by
lineage rows, so a crash mid-write re-processes the partition (idempotent
— all checks are deterministic reads) rather than losing it.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("part", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("completed_at", T.DoubleType(), False),
    ]
)


class AuditStore:
    """Append-only audit store with the four streams. Parquet in-sandbox;
    the method surface matches what an Iceberg-backed variant needs."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, stream: str) -> str:
        return os.path.join(self.root, stream)

    def append(self, stream: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._path(stream))

    def read(self, stream: str) -> Optional[DataFrame]:
        p = self._path(stream)
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)

    def read_clean(self, stream: str) -> Optional[DataFrame]:
        """Stream with crash duplicates removed. The crash-consistency
        rule (lineage-last) means a partition that crashed after its
        verdict/violation append but before its lineage marker is
        re-processed on resume — appending IDENTICAL rows a second time
        (all checks are deterministic reads). Full-row dropDuplicates is
        therefore exactly the replay filter; on Iceberg the same effect
        comes free from overwrite-by-partition commits. Not for
        ``lineage`` (its ``completed_at`` differs per attempt — dedup on
        (run_id, label, part, status) instead if needed)."""
        df = self.read(stream)
        return None if df is None else df.dropDuplicates()

    # -- lineage -------------------------------------------------------------
    def mark_completed(self, run_id: str, label: str, parts: Sequence[int]) -> None:
        now = time.time()
        rows = [(run_id, label, int(p), "completed", now) for p in parts]
        self.append("lineage", self.spark.createDataFrame(rows, LINEAGE_SCHEMA))

    def completed_parts(self, run_id: str, label: str) -> set[int]:
        lin = self.read("lineage")
        if lin is None:
            return set()
        rows = (
            lin.filter(
                (F.col("run_id") == run_id)
                & (F.col("label") == label)
                & (F.col("status") == "completed")
            )
            .select("part")
            .distinct()
            .collect()
        )
        return {r["part"] for r in rows}


@dataclass
class ValidationRun:
    """Checkpoint-resumable validation driver.

    ``checks`` — callables ``(df) -> CheckResult`` (bind the model/config
    with functools.partial) whose semantics are **partition-local** (e.g.
    required-null, value-domain, payload invariants): on resume they run
    over the pruned pending-partition scan only.

    ``global_checks`` — checks whose correctness needs the **whole table**
    (uniqueness, drift): a duplicate key whose two rows straddle a completed
    and a pending partition is invisible to a pruned scan, so these always
    scan the full table; only their *output* (violations/verdicts) is
    restricted to the pending partitions (completed partitions' rows were
    already recorded by the earlier run). This trades re-scan cost for
    correctness on resume — the pruned-scan shortcut is a silent false-pass.

    ``metrics_fn`` — optional ``(df) -> DataFrame`` for per-partition stats
    rows (the metrics stream).

    ``run(resume=True)`` computes pending = all partitions − completed
    lineage, filters the table to pending partitions (an IN-list predicate
    that prunes Iceberg/parquet partitions at the scan), runs the checks as
    above through one ``checks.base.verdict_pass`` (each check's plan runs
    once; one aggregate gives every check's verdicts), appends violations +
    verdicts + metrics, then marks lineage. Returns the pending-part
    verdict rows.
    """

    spark: SparkSession
    table: DataFrame
    label: str
    part_col: str
    checks: Sequence[Callable[[DataFrame], "object"]]
    store: AuditStore
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    metrics_fn: Optional[Callable[[DataFrame], DataFrame]] = None
    global_checks: Sequence[Callable[[DataFrame], "object"]] = ()

    def all_parts(self) -> set[int]:
        return {
            r["p"]
            for r in self.table.select(
                F.col(self.part_col).cast("long").alias("p")
            )
            .distinct()
            .collect()
        }

    def pending_parts(self, resume: bool = True) -> set[int]:
        parts = self.all_parts()
        if not resume:
            return parts
        return parts - self.store.completed_parts(self.run_id, self.label)

    def run(self, resume: bool = True) -> DataFrame:
        from .checks.base import VERDICT_SCHEMA, CheckResult, partition_row_counts, verdict_pass

        all_parts = self.all_parts()
        completed = (
            self.store.completed_parts(self.run_id, self.label) if resume else set()
        )
        pending = sorted(all_parts - completed)
        has_completed = bool(all_parts & completed)
        if not pending:
            return self.spark.createDataFrame([], VERDICT_SCHEMA)

        # partition pruning: IN-list on the partition column reaches the scan
        scoped = self.table.filter(F.col(self.part_col).isin([int(p) for p in pending]))
        results = [check(scoped) for check in self.checks]
        for check in self.global_checks:
            # whole-table scan (cross-partition violations must not be
            # missed on resume); output restricted to pending partitions —
            # part=NULL (global-sentinel) violations are always kept.
            res = check(self.table)
            pending_pred = F.col("part").isNull() | F.col("part").isin(
                [int(p) for p in pending]
            )
            pending_v = res.violations.filter(pending_pred)
            if has_completed:
                # cross-partition groups (ADVICE r2): a completed-side
                # member of a violation group whose pending-side member the
                # scan just found would otherwise be silently dropped — the
                # earlier run could not have recorded it (the pending data
                # did not exist yet). Re-emit those members, tagged, so dup
                # groups are complete without re-emitting every completed-
                # part violation. Keyed on (check, key) — the group
                # identity every cross-partition check (uniqueness) uses.
                pend_keys = (
                    pending_v.filter(F.col("key").isNotNull())
                    .select("check", "key")
                    .dropDuplicates()
                )
                late = (
                    res.violations.filter(~pending_pred)
                    .join(F.broadcast(pend_keys), ["check", "key"], "left_semi")
                    .withColumn(
                        "detail",
                        F.concat(
                            F.coalesce(F.col("detail"), F.lit("")),
                            F.lit(" [late: cross-partition member from completed part]"),
                        ),
                    )
                )
                pending_v = pending_v.unionByName(late.select(*pending_v.columns))
            results.append(CheckResult(res.check, res.label, pending_v))

        violations, verdicts = verdict_pass(
            results, partition_row_counts(scoped, self.part_col)
        )
        run_tag = F.lit(self.run_id).alias("run_id")
        self.store.append("violations", violations.select(run_tag, "*"))
        self.store.append("verdicts", verdicts.select(run_tag, "*"))
        if self.metrics_fn is not None:
            self.store.append("metrics", self.metrics_fn(scoped).select(run_tag, "*"))
        # lineage LAST: a crash before this line re-runs the partitions
        self.store.mark_completed(self.run_id, self.label, pending)
        return verdicts


# ---------------------------------------------------------------------------
# cross-run incremental distinct counts (persisted HLL sketches)
# ---------------------------------------------------------------------------


def append_distinct_sketches(
    store: AuditStore,
    run_id: str,
    df: DataFrame,
    columns: Sequence[str],
    part_col: Optional[str] = None,
) -> None:
    """Sketch this run's data and persist to the ``sketches`` stream
    (run_id, part, column, sketch). At 100 TB this is what makes the
    per-column distinct metric INCREMENTAL: each ingest/validation run
    sketches only its own rows (one pass it is already making), and the
    global distinct is a union over the persisted sketch rows — history
    is never rescanned (same Iceberg-append audit layout as metrics)."""
    from .checks.stats import distinct_sketches

    sk = distinct_sketches(df, columns, part_col)
    store.append(
        "sketches", sk.select(F.lit(run_id).alias("run_id"), "*")
    )


def cumulative_distinct_estimates(
    store: AuditStore,
    run_ids: Optional[Sequence[str]] = None,
) -> Optional[DataFrame]:
    """(column, n_distinct) across all persisted sketch rows (optionally
    restricted to ``run_ids``) — the roll-up is a tiny aggregation over
    sketch rows (runs × parts × columns), independent of data volume."""
    from .checks.stats import sketch_distinct_estimates, union_distinct_sketches

    sk = store.read("sketches")
    if sk is None:
        return None
    if run_ids is not None:
        sk = sk.filter(F.col("run_id").isin(list(run_ids)))
    return sketch_distinct_estimates(union_distinct_sketches(sk))
