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
* Verdicts are a ``groupBy(part)`` over the (tiny) violation set joined
  against per-partition row counts — one extra aggregate over the scan.
* All checks are pure DataFrame expressions: Catalyst pushes the involved
  column reads into the scan, and AQE handles stragglers.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

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

VIOLATION_COLS = [f.name for f in VIOLATION_SCHEMA.fields]
VERDICT_COLS = [f.name for f in VERDICT_SCHEMA.fields]


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

    def verdicts(self, row_counts: DataFrame) -> DataFrame:
        """Per-partition pass/fail. ``row_counts`` = (part, n_rows) computed
        once per table and shared across checks (one scan, many verdicts).

        The join is NULL-safe AND full-outer on ``part``: global checks use
        part=NULL (the documented sentinel), and a plain left equi-join would
        silently drop their violation counts — a false "passed" verdict from
        a validation engine. Full-outer also surfaces violations attributed
        to a part with no row-count row (n_rows=NULL, passed=False) instead
        of hiding them.
        """
        vio = (
            self.violations.groupBy("part")
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )
        return (
            row_counts.join(
                vio, row_counts["part"].eqNullSafe(vio["part"]), "full_outer"
            )
            .select(
                F.coalesce(row_counts["part"], vio["part"]).cast("long").alias("part"),
                F.lit(self.check).alias("check"),
                F.lit(self.label).alias("label"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.coalesce(F.col("n_violations"), F.lit(0)).cast("long").alias("n_violations"),
                (F.coalesce(F.col("n_violations"), F.lit(0)) == 0).alias("passed"),
            )
        )


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
