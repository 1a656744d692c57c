"""Connected components over near-duplicate pairs — the second half of
every dedup pipeline: pair finders (dedup.py, similarity.py) emit edges;
keeping ONE document per duplicate *cluster* requires the transitive
closure of those edges (a~b, b~c ⇒ keep one of {a,b,c}, not two).

Output contract: one ``(node, comp)`` row per non-NULL id in ``pairs``;
``comp`` is the min id of the node's component (the canonical
representative). A NULL id is never a node, so the non-NULL partner of
a NULL id is a singleton unless its other edges join it to something.

Scale design — two paths, one size gate (``_LOCAL_MAX_EDGES``):
* Gate: ONE job collects ``limit(_LOCAL_MAX_EDGES + 1)`` edges as Arrow.
  At most ``_LOCAL_MAX_EDGES`` rows back (and integral or string ids)
  means the graph is small: union-find on the driver closes it exactly
  and the labels go back as an Arrow-backed local frame. Driver
  residency: ≤ cap + 1 edge rows collected, ≤ 2 × cap nodes in the
  union-find dict. Float ids stay distributed (NaN breaks ``<``). The
  gate reads a lazily local-checkpointed edge frame, so above the gate
  the loop reads the gate's scan: the pair finder upstream runs once.
* Above the gate: hash-min label propagation — each round every node
  takes the min of its own and its neighbors' labels — combined with
  POINTER DOUBLING (comp ← comp(comp)), so a round covers twice the hop
  distance of the last: O(log diameter) rounds (a 10k-node path needs
  ~15). Per round: one |E| shuffle (edge ⋈ labels on the node key) + one
  |V| groupBy + one |V| shortcut self-join; ``localCheckpoint`` cuts the
  lineage (without it round k re-runs rounds 1..k-1), and one changed-row
  count both materializes the round and tests the fixpoint.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, IntegralType, StringType, StructField, StructType

# Graphs with at most this many edges are closed on the driver. At the
# cap (4 cores, local[4]) the driver path takes 0.65 s and the
# distributed loop 9.3 s on a random graph (447 components) and 14.9 s
# on a path; each loop round costs a few Spark jobs however small |E| is.
_LOCAL_MAX_EDGES = 1 << 16


def _local_components(
    spark: SparkSession, edges: pa.Table, id_type: DataType
) -> DataFrame:
    """Union-find over collected ``(a, b)`` edges. The larger root is
    linked under the smaller, so every root is its component's min id —
    the same labels the distributed loop converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges.column("a").to_pylist(), edges.column("b").to_pylist()):
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    arrow_type = to_arrow_type(id_type)
    labels = pa.table({
        "node": pa.array(nodes, arrow_type),
        "comp": pa.array([find(x) for x in nodes], arrow_type),
    })
    schema = StructType([StructField("node", id_type), StructField("comp", id_type)])
    return spark.createDataFrame(labels, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, comp) for every non-NULL id appearing in ``pairs``; ``comp``
    is the min node id in the connected component (stable canonical
    label). The id type is the common type of ``src`` and ``dst``.

    At most ``_LOCAL_MAX_EDGES`` edges with integral or string ids: one
    collect + driver union-find, exact; ``max_iter`` does not apply.
    Otherwise the distributed hash-min + pointer-doubling loop runs. If
    ``max_iter`` rounds pass without reaching the fixpoint its labels may
    SPLIT components (under-merged), and a RuntimeWarning says so. With
    pointer doubling, max_iter=25 covers diameters up to ~2^25."""
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    flip = [F.col("b").alias("a"), F.col("a").alias("b")]
    id_type = edges.unionByName(edges.select(*flip)).schema["a"].dataType
    # cast to the common id type so mixed-type columns compare on the driver
    edges = edges.select(*(F.col(c).cast(id_type).alias(c) for c in "ab"))
    if isinstance(id_type, IntegralType) or id_type == StringType():
        # checkpointed before the gate: above the cap the loop reads the
        # gate's scan instead of re-running the pair finder upstream.
        # localCheckpoint, not persist: with persist the gate took one
        # more job (AQE builds the cache as a query stage of its own)
        edges = edges.localCheckpoint(eager=False)
        # the gate's one job is also the fast path's input
        head = edges.limit(_LOCAL_MAX_EDGES + 1).toArrow()
        if head.num_rows <= _LOCAL_MAX_EDGES:
            return _local_components(pairs.sparkSession, head, id_type)
    # NULL ids are dropped here, once: a NULL source is no node, and an
    # edge to a NULL becomes a self-loop that keeps its source a node
    sym = (
        edges.unionByName(edges.select(*flip))
        .filter(F.col("a").isNotNull())
        .select("a", F.coalesce("b", "a").alias("b"))
        .dropDuplicates()
        .persist()
    )
    # initial labels are the identity, so round 1's edge⋈labels join
    # would join every edge to itself — skipped: the first round's
    # contributions are just the raw neighbor ids (labels=None below),
    # which also removes the up-front eager materialization job
    labels = None
    converged = False
    for _ in range(max_iter):
        # neighbor label contributions unioned with the self labels, then
        # ONE min-aggregate: min(own, neighbors') per node in two
        # shuffles/round (edge⋈labels + groupBy) — the join+agg+left-join
        # formulation costs a third; at 10^12 edges that's 1/3 of the
        # per-round shuffle bytes
        if labels is None:
            contrib = sym.select(F.col("b").alias("node"), F.col("a").alias("comp"))
            self_labels = (
                sym.select(F.col("a").alias("node"))
                .dropDuplicates()
                .withColumn("comp", F.col("node"))
            )
        else:
            contrib = sym.join(labels, sym["a"] == labels["node"]).select(
                F.col("b").alias("node"), "comp"
            )
            self_labels = labels
        new = (
            contrib.unionByName(self_labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer doubling (shortcutting): comp ← comp(comp). Every comp
        # value is the id of a node in the same component (initial labels
        # cover all nodes; min preserves membership), so following the
        # label one extra hop stays in-component while doubling the
        # distance covered per round — O(log diameter) rounds on chains.
        # The join is |V|-sized (labels, not edges); left+coalesce guards
        # the invariant rather than assuming it.
        parent = new.select(
            F.col("node").alias("_pn"), F.col("comp").alias("_pc")
        )
        # carry the previous label through the round so ONE action both
        # materializes the lazy checkpoint (count() touches every
        # partition) and answers the convergence question — the r5 form
        # paid two jobs per round (eager checkpoint + a changed-count
        # join) and per-round job overhead dominated on shallow graphs
        new = (
            new.join(parent, new["comp"] == parent["_pn"], "left")
            .select("node", F.coalesce("_pc", "comp").alias("comp"))
            .join(self_labels.withColumnRenamed("comp", "_old"), "node")
            .localCheckpoint(eager=False)
        )
        changed = new.filter(F.col("comp") != F.col("_old")).count()
        labels = new.drop("_old")
        if changed == 0:
            converged = True
            break
    if labels is None:  # max_iter == 0 — identity labelling
        labels = (
            sym.select(F.col("a").alias("node"))
            .dropDuplicates()
            .withColumn("comp", F.col("node"))
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    if not converged:
        warnings.warn(
            f"connected_components: fixpoint not reached in {max_iter} "
            "rounds — labels may split components (under-merge). "
            "Raise max_iter.",
            RuntimeWarning,
        )
    return labels


def dedupe_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one row per near-duplicate CLUSTER (the min-id member) plus
    every row not in any pair — the transitive-closure analogue of
    ``dedup.dedupe_exact`` (which needs no closure because exact-hash
    groups are already equivalence classes)."""
    comp = connected_components(pairs, src, dst)
    drop = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
