"""Referential-integrity checks and endpoint resolution for relationship
(edge) tables.

Reference semantics:
* J1 — edge endpoint resolution: ``MATCH source… MATCH target… MERGE`` —
  rows whose endpoints don't resolve silently vanish (inner-join semantics,
  ``src/neontology/graphengines/graphengine.py:281-291``).
* J2 — ``check_unmatched`` (``tools/import_records.py:186-222``): 0 target
  matches ⇒ "No target node" (unmatched); >1 matches ⇒ "Matched k on …"
  (ambiguous). ``error_on_unmatched=True`` escalates to ValueError
  (``import_records.py:353-383``).
* J3 — endpoints may be matched on any property, not just the primary one
  (``baserelationship.py:157-221``), which is why the ambiguity check
  exists at all.

Scale notes:
* unmatched = **left-anti join** edges→nodes. The node-key side is
  projected to the single key column before the join, so even a huge node
  table ships only its key column; if the distinct-key set is small Spark's
  AQE converts to broadcast automatically, and we hint broadcast when the
  caller says the dim is small.
* ambiguous = edges joined to the (tiny) multi-valued key set:
  ``groupBy(key).count().filter(>1)`` then a broadcast semi-join.
* resolution (J1) = two inner equi-joins; key skew is handled by AQE skew
  join; callers can pre-salt via ``salt_buckets`` when a known-hot key
  distribution defeats AQE.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..models import RelationshipModel
from .base import CheckResult, shape_violations


class UnmatchedError(ValueError):
    """error_on_unmatched escalation (import_records.py:353-383)."""


def unmatched_rows(
    rel_df: DataFrame,
    node_df: DataFrame,
    rel_key: str,
    node_key: str,
    broadcast_nodes: bool = False,
) -> DataFrame:
    """Edge rows whose ``rel_key`` has no match in ``node_df.node_key``
    (the rows MERGE would silently drop, graphengine.py:281-291)."""
    keys = node_df.select(F.col(node_key).alias(rel_key)).dropDuplicates()
    if broadcast_nodes:
        keys = F.broadcast(keys)
    return rel_df.join(keys, rel_key, "left_anti")


def ambiguous_keys(node_df: DataFrame, node_key: str) -> DataFrame:
    """(key, match_count) for node keys that are not unique — matching on
    them is ambiguous (import_records.py:202-211)."""
    return (
        node_df.groupBy(F.col(node_key).alias("_amb_key"))
        .agg(F.count(F.lit(1)).alias("match_count"))
        .filter(F.col("match_count") > 1)
    )


def check_referential(
    rel_df: DataFrame,
    node_df: DataFrame,
    model: RelationshipModel,
    side: str = "target",
    node_key: Optional[str] = None,
    part_col: Optional[str] = None,
    error_on_unmatched: bool = False,
) -> CheckResult:
    """Full J2 replay for one endpoint side: unmatched + ambiguous rows.

    ``side`` is "source" or "target"; ``node_key`` defaults to the edge key
    column's namesake in the node table (callers pass the endpoint model's
    primary property, or an alternate property for J3 matching).
    """
    rel_key = model.source_column if side == "source" else model.target_column
    node_key = node_key or rel_key
    name = f"referential__{side}"

    unmatched = unmatched_rows(rel_df, node_df, rel_key, node_key)
    vio_unmatched = shape_violations(
        unmatched,
        check=name,
        label=model.rel_type,
        part_col=part_col,
        column=rel_key,
        key=F.col(rel_key).cast("string"),
        # a NULL endpoint key never matches; render it, or concat is NULL
        detail=F.concat(
            F.lit(f"No {side} node found matching {node_key}="),
            F.coalesce(F.col(rel_key).cast("string"), F.lit("NULL")),
        ),
    )

    amb = ambiguous_keys(node_df, node_key)
    amb_edges = rel_df.join(
        F.broadcast(amb), rel_df[rel_key] == amb["_amb_key"], "inner"
    )
    vio_amb = shape_violations(
        amb_edges,
        check=name,
        label=model.rel_type,
        part_col=part_col,
        column=rel_key,
        key=F.col(rel_key).cast("string"),
        detail=F.concat(
            F.lit("Matched "),
            F.col("match_count").cast("string"),
            F.lit(f" {side} nodes on {node_key} - ambiguous"),
        ),
    )
    result = CheckResult(name, model.rel_type, vio_unmatched.unionByName(vio_amb))
    if error_on_unmatched:
        # only unmatched rows escalate; ambiguous ones stay violations
        sample = vio_unmatched.limit(5).collect()
        if sample:
            raise UnmatchedError(
                f"{name}: {[r['detail'] for r in sample]} (first 5 shown)"
            )
    return result

