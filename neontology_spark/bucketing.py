"""Bucketed-table seam: co-located joins for the hot RI/uniqueness keys.

At 10^12 rows the dominant shuffle in the validation suite is the
referential-integrity join (edge table ⋈ node table on the endpoint key)
and any repeated equi-join on the same key. Spark's answer is bucketing:
persist both tables ``bucketBy(N, key)`` and an equi-join on that key
becomes a zero-Exchange SortMergeJoin — each bucket pair joins in place,
task-local, at every subsequent run (validation is a recurring job, so
the one-time bucketed write amortizes across every later suite run).

This module is the thin seam over ``saveAsTable``: bucketing metadata
lives in the session catalog (in production: Iceberg bucket-partition
transforms / Hive metastore; in-sandbox: the local Spark warehouse —
same plan shapes, pytest-asserted via ``Exchange`` absence).

Reference anchor: the reference leans on Neo4j's native key index for
every MATCH (graphengine.py:319-330); a bucketed layout is the
warehouse-native analogue — the key's hash-location is precomputed into
the storage layout instead of an index.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort_within: bool = True,
) -> None:
    """Persist ``df`` bucketed (and per-bucket sorted) on ``bucket_col``.

    ``sort_within=True`` additionally sorts each bucket file on the key:
    SortMergeJoin then skips its per-task sort too, and point lookups
    (F1 ``match_one``) binary-search row groups via min/max stats.
    ``n_buckets`` must MATCH across tables meant to co-join — bucket
    alignment is what removes the Exchange."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_within:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def co_located_unmatched(
    spark: SparkSession,
    edge_table: str,
    node_table: str,
    edge_key: str,
    node_key: Optional[str] = None,
) -> DataFrame:
    """RI unmatched-endpoint check over two bucketed catalog tables:
    edge rows whose key has no node — the J2 anti-join — with NO shuffle
    Exchange on either side when both tables are bucketed on their key
    with equal bucket counts (plan-shape pytest-asserted)."""
    node_key = node_key or edge_key
    edges = spark.table(edge_table)
    nodes = spark.table(node_table)
    # no dedup needed: left_anti is insensitive to right-side duplicates,
    # and skipping it keeps the right side a bare bucketed scan
    return edges.join(
        nodes.select(F.col(node_key).alias(edge_key)),
        edge_key,
        "left_anti",
    )


def estimated_bytes(df: DataFrame) -> Optional[int]:
    """The optimizer's size estimate of ``df`` in bytes — a driver-side,
    constant-time probe of the logical-plan stats, no job. A file scan
    is sized by its on-disk (compressed) bytes, scaled down to the
    projected columns. None when the stats are unknown or the
    "unknown size" sentinel."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return est if est < (1 << 60) else None
