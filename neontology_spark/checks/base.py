"""Check framework: every constraint compiles to DataFrames of violation
rows + per-partition verdict rows.

The reference surfaces violations as Pydantic ValidationErrors / warnings /
ValueErrors per row (e.g. ``tools/import_records.py:202-222``). Set-oriented
replay: a *violation DataFrame* with a fixed, union-able schema, and a
*verdict DataFrame* aggregated per explicit partition column — the
per-partition pass/fail the north_rule requires.

Scale design:
* Violation rows carry only (partition, key, column, detail) — never wide
  payload columns like image ``bytes`` — so a check over a 100 TB table
  emits KBs, not TBs, and the scan can column-prune to the checked columns.
* One ``verdict_pass`` serves all checks of a run: their violations are
  materialized once (each check's plan runs once per run or micro-batch)
  and one ``groupBy(part, check, label)`` gives every check's verdicts.
* All checks are pure DataFrame expressions: Catalyst pushes the involved
  column reads into the scan, and AQE handles stragglers.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed violation schema — every check emits exactly this shape so results
# union into one audit stream (analogue of NeontologyResult, result.py:8-67).
VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("part", T.LongType(), True),  # partition id (NULL = global)
        T.StructField("check", T.StringType(), False),
        T.StructField("label", T.StringType(), False),  # table / model label
        T.StructField("column", T.StringType(), True),
        T.StructField("key", T.StringType(), True),  # offending key, stringified
        T.StructField("detail", T.StringType(), True),
    ]
)

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("part", T.LongType(), True),
        T.StructField("check", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_violations", T.LongType(), False),
        T.StructField("passed", T.BooleanType(), False),
    ]
)


def shape_violations(
    df: DataFrame,
    check: str,
    label: str,
    part_col: Optional[str] = None,
    column: Optional[object] = None,
    key: Optional[object] = None,
    detail: Optional[object] = None,
) -> DataFrame:
    """Project an arbitrary violation-row DataFrame onto VIOLATION_SCHEMA.

    ``column``/``key``/``detail`` may be literals (str) or Columns.
    """

    def as_col(v, cast: str) -> F.Column:
        if v is None:
            return F.lit(None).cast(cast)
        if isinstance(v, str):
            return F.lit(v).cast(cast)
        return v.cast(cast)

    part = F.col(part_col).cast("long") if part_col else F.lit(None).cast("long")
    return df.select(
        part.alias("part"),
        F.lit(check).alias("check"),
        F.lit(label).alias("label"),
        as_col(column, "string").alias("column"),
        as_col(key, "string").alias("key"),
        as_col(detail, "string").alias("detail"),
    )


@dataclass
class CheckResult:
    """One check's output. ``violations`` conforms to VIOLATION_SCHEMA."""

    check: str
    label: str
    violations: DataFrame


def verdict_pass(
    results: Sequence[CheckResult], row_counts: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """``(violations, verdicts)`` of a run's check results, both
    materialized once (GC-scoped ``localCheckpoint``): ``violations`` is
    their union, coalesced to one partition per core, so each check's plan
    runs once however many outputs read it; ``verdicts`` is one
    ``groupBy(part, check, label)`` over those rows (each carries its
    result's (check, label), as ``shape_violations`` writes them) and the
    grid ``row_counts`` (one (part, n_rows) row per part) × (check, label)
    — the full-outer join of the two without its shuffles.

    Grouping is NULL-safe: global checks' part=NULL violations reach the
    NULL-part verdict (an equi-join drops them — a false "passed"), and
    violations at a part with no row-count row surface as n_rows=NULL,
    passed=False. Two results sharing a (check, label) pair would merge
    into one count, so they raise ``ValueError``.
    """
    names = [(r.check, r.label) for r in results]
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        raise ValueError(f"duplicate check results (check, label): {dup}")
    union = functools.reduce(DataFrame.unionByName, [r.violations for r in results])
    # the union keeps every check's partitions (161 for entry()), each a
    # task per read and a file per audit append. The coalesce also narrows
    # the check stages feeding it; on 4 cores entry() still fell 5.4 ->
    # 4.7 s, the traced ValidationRun.run held (4.60 -> 4.57 s, median of
    # 8 pairs) and wrote 20 audit files instead of 40
    cores = union.sparkSession.sparkContext.defaultParallelism
    violations = union.coalesce(cores).localCheckpoint()
    # literal (check, label) structs, not createDataFrame: no driver-side
    # frame build, and the grid stays one projection over the counts
    pairs = [F.struct(F.lit(c).alias("check"), F.lit(lb).alias("label")) for c, lb in names]
    grid = row_counts.select("part", "n_rows", F.inline(F.array(*pairs)), F.lit(0).alias("_v"))
    hits = violations.select("part", "check", "label", F.lit(1).alias("_v"))
    verdicts = (
        grid.unionByName(hits, allowMissingColumns=True)
        .groupBy("part", "check", "label")
        .agg(F.max("n_rows").alias("n_rows"), F.sum("_v").alias("n_violations"))
        .withColumn("passed", F.col("n_violations") == 0)
        .localCheckpoint()
    )
    return violations, verdicts


def partition_row_counts(df: DataFrame, part_col: Optional[str]) -> DataFrame:
    """(part, n_rows) per explicit partition — shared input to all verdicts.

    At scale this is a map-side-combined count over the partition column
    only (column-pruned scan)."""
    if part_col is None:
        return df.groupBy(F.lit(None).cast("long").alias("part")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
    return (
        df.groupBy(F.col(part_col).cast("long").alias("part"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
