"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full constraint-validation verdict pass over
the deterministically synthesized image+caption table (BASELINE.json
input_hint shape). ``queries()`` / ``oracle_sql()`` — one entry per
implemented operator from SURVEY.md §2, DuckDB-checkable over the
driver-provided parquet tables.
"""

from __future__ import annotations

import atexit
import os
import pathlib
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the neontology_spark package to executor Python workers —
    the sandbox analogue of ``spark-submit --py-files`` (north_star).
    Without this, mapInPandas kernels fail to unpickle when the driver
    process was launched outside the repo directory. The zip is per
    driver process and is removed when its interpreter exits."""
    sc = spark.sparkContext
    done_for = getattr(_ensure_shipped, "_done_for", None)
    if done_for == id(sc):
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"neontology_spark_pkg_{os.getpid()}.zip"
    )
    if done_for is None:  # first zip of this process
        atexit.register(pathlib.Path(zpath).unlink, missing_ok=True)
    pkgdir = os.path.join(_REPO, "neontology_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkgdir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, _REPO))
    sc.addPyFile(zpath)
    _ensure_shipped._done_for = id(sc)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: run the core constraint checks (uniqueness, required-null,
    value-domain, payload invariants) over a synthesized image table and
    return per-partition verdict rows (sorted for stability)."""
    _ensure_shipped(spark)
    from pyspark.sql import functions as SF

    from neontology_spark.checks import (
        check_domain,
        check_required,
        check_unique,
        partition_row_counts,
    )
    from neontology_spark.checks.base import CheckResult, verdict_pass
    from neontology_spark.checks.drift import (
        check_drift,
        drift_metrics,
        numeric_histogram,
    )
    from neontology_spark.images import check_payload, generate_images, image_model

    N_PARTS = 8
    images = generate_images(spark, n_rows=4_000, n_parts=N_PARTS).cache()
    model = image_model()
    counts = partition_row_counts(images, "part")

    # drift: baseline = clean snapshot minus its (intentionally shifted)
    # last partition; current compared per-partition against it
    edges = [0.0, 16, 32, 48, 64, 80, 96, 112, 128, 160]
    baseline = generate_images(
        spark, n_rows=4_000, n_parts=N_PARTS, plant_violations=False
    ).filter(SF.col("part") < N_PARTS - 1)
    drift = check_drift(
        drift_metrics(
            numeric_histogram(baseline, "w", edges),
            numeric_histogram(images, "w", edges, part_col="part"),
        ),
        label="Image",
    )

    results = [
        check_unique(images, model, part_col="part"),
        check_unique(images, model, column="phash", part_col="part", salted=True,
                     check_name="unique__phash"),
        check_required(images, model, part_col="part"),
        check_domain(images, model, part_col="part"),
        CheckResult("payload_invariants", "Image", check_payload(images)),
        drift,
    ]
    _, verdicts = verdict_pass(results, counts)
    return verdicts.orderBy("check", "part")


# ---------------------------------------------------------------------------
# queries + DuckDB oracles (driver runs both at sf0.01 and compares)
# ---------------------------------------------------------------------------

# F1 — point lookup (basenode.py:345-371)
def q_f1_match_pp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.filters import compile_filters

    cust = _t(spark, sf_dir, "customer")
    return cust.filter(compile_filters({"c_custkey": 42})).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


O_F1 = "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42"


# F2 — filter DSL string lookups (graphengine.py:319-330)
def q_f2_filter_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.filters import compile_filters

    part = _t(spark, sf_dir, "part")
    pred = compile_filters(
        {"p_name__icontains": "al", "p_brand__startswith": "Brand#1", "p_type__contains": "ED"}
    )
    return part.filter(pred).select("p_partkey", "p_name", "p_brand", "p_type")


O_F2_STR = """
SELECT p_partkey, p_name, p_brand, p_type FROM part
WHERE lower(p_name) LIKE '%al%' AND p_brand LIKE 'Brand#1%' AND p_type LIKE '%ED%'
"""


# F2 — numeric / in / isnull lookups (graphengine.py:331-338)
def q_f2_filter_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.filters import compile_filters

    orders = _t(spark, sf_dir, "orders")
    pred = compile_filters(
        {
            "o_totalprice__gt": 100000.0,
            "o_totalprice__lte": 150000.0,
            "o_orderstatus__in": ["O", "F"],
            "o_orderdate__isnull": False,
        }
    )
    return orders.filter(pred).select("o_orderkey", "o_orderstatus", "o_totalprice")


O_F2_NUM = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_totalprice > 100000.0 AND o_totalprice <= 150000.0
  AND o_orderstatus IN ('O','F') AND o_orderdate IS NOT NULL
"""


# F3 — match_nodes with deterministic paging (graphengine.py:348-380)
def q_f3_match_nodes_paged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.filters import compile_filters

    cust = _t(spark, sf_dir, "customer")
    pred = compile_filters({"c_mktsegment__iexact": "building"})
    return (
        cust.filter(pred)
        .orderBy("c_custkey")
        .offset(10)
        .limit(20)
        .select("c_custkey", "c_name")
    )


O_F3 = """
SELECT c_custkey, c_name FROM customer
WHERE lower(c_mktsegment) = 'building'
ORDER BY c_custkey LIMIT 20 OFFSET 10
"""


# A1 — get_count with filters (graphengine.py:382-401)
def q_a1_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.filters import compile_filters

    li = _t(spark, sf_dir, "lineitem")
    pred = compile_filters({"l_returnflag": "R", "l_quantity__gte": 25.0})
    return li.filter(pred).agg(F.count(F.lit(1)).alias("n"))


O_A1 = "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 25.0"


# A3 — related-count aggregate (follower_count pattern, test_basenode.py:1437-1439)
def q_a3_related_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
        .orderBy("o_custkey")
    )


O_A3 = """
SELECT o_custkey, count(*) AS n_orders FROM orders
GROUP BY o_custkey HAVING count(*) >= 3 ORDER BY o_custkey
"""


# A4 — COLLECT(DISTINCT x) (test_basenode.py:1441-1444), string-joined for
# engine-portable comparison
def q_a4_collect_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("names")
        )
        .orderBy("n_regionkey")
    )


O_A4 = """
SELECT n_regionkey, array_to_string(list_sort(list(DISTINCT n_name)), ',') AS names
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


# A5 — within-batch dedup by full-row fingerprint (basenode.py:300-343)
def q_a5_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.upsert import with_fingerprint

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    # count_distinct(_fp) per status ≡ dropDuplicates(["_fp"]) then
    # count per status (the fingerprint covers o_orderstatus, so every
    # row of a fingerprint group shares one status). The dropDuplicates
    # form compiled to first(o_orderstatus) whose string buffer forces
    # SortAggregate — two full sorts keyed on 64-char sha2 strings; the
    # distinct-aggregate form is a pair of HashAggregates with map-side
    # partial dedup (plans/r06/a5_dedup_fingerprint_{before,after}.txt).
    fp = with_fingerprint(orders)
    return fp.groupBy("o_orderstatus").agg(
        F.count_distinct("_fp").alias("n_unique_rows")
    ).orderBy("o_orderstatus")


O_A5 = """
SELECT o_orderstatus, count(*) AS n_unique_rows FROM (
  SELECT DISTINCT o_custkey, o_orderstatus, o_orderpriority FROM orders
) GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# J2 — referential-integrity anti-join: unmatched (import_records.py:213-222)
def q_j2_ri_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks import unmatched_rows

    orders = _t(spark, sf_dir, "orders")
    # restrict the node side so violations exist: customers of nation < 10
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 10)
    um = unmatched_rows(orders, cust, "o_custkey", "c_custkey")
    return um.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_unmatched")
    ).orderBy("o_orderstatus")


O_J2 = """
SELECT o_orderstatus, count(*) AS n_unmatched FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_nationkey < 10)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# J2b — ambiguity check: >1 match on a non-unique key (import_records.py:202-211)
def q_j2_ri_ambiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks import ambiguous_keys

    cust = _t(spark, sf_dir, "customer")
    amb = ambiguous_keys(cust, "c_nationkey")
    return amb.select(
        F.col("_amb_key").alias("nationkey"), F.col("match_count")
    ).orderBy("nationkey")


O_J2B = """
SELECT c_nationkey AS nationkey, count(*) AS match_count FROM customer
GROUP BY c_nationkey HAVING count(*) > 1 ORDER BY nationkey
"""


# J1/J5 — endpoint-resolution join + 1-hop traversal with rel-prop filter
def q_j5_get_related(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # customers in segment BUILDING, their open orders (rel-prop equality)
    joined = orders.join(
        F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
        orders.o_custkey == F.col("c_custkey"),
        "inner",
    ).filter(F.col("o_orderstatus") == "O")
    return joined.select("c_custkey", "o_orderkey", "o_totalprice").orderBy(
        "c_custkey", "o_orderkey"
    )


O_J5 = """
SELECT c_custkey, o_orderkey, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
ORDER BY c_custkey, o_orderkey
"""


# CORE — uniqueness violation members (neo4jengine.py:285-298 enforcement)
def q_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks import duplicate_keys

    li = _t(spark, sf_dir, "lineitem")
    # l_orderkey is non-unique (multi-line orders): the dup-key detection
    # path over a realistically skewed key
    dups = duplicate_keys(li, "l_orderkey")
    return dups.groupBy().agg(
        F.count(F.lit(1)).alias("n_dup_keys"),
        F.sum("dup_count").alias("n_dup_rows"),
        F.max("dup_count").alias("max_dup"),
    )


O_UNIQUE = """
SELECT CAST(count(*) AS BIGINT) AS n_dup_keys,
       CAST(sum(c) AS BIGINT) AS n_dup_rows,
       CAST(max(c) AS BIGINT) AS max_dup FROM (
  SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
)
"""


# A6 — one-pass column stats profiler (north_rule)
def q_a6_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks import column_stats

    orders = _t(spark, sf_dir, "orders")
    st = column_stats(orders, columns=["o_custkey", "o_orderstatus"], exact=True)
    return st.select(
        "column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
    ).orderBy("column")


O_A6 = """
SELECT * FROM (
  SELECT 'o_custkey' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
         CAST(min(o_custkey) AS VARCHAR) AS min_value,
         CAST(max(o_custkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT o_orderstatus) AS BIGINT),
         CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
  FROM orders
) ORDER BY "column"
"""


# S2/§2.4 — policy-driven upsert kernel (merge_nodes semantics) with a full
# SQL oracle: merge post-1995 orders (batch) into pre-1995 state (existing),
# keyed per customer, last-writer-wins by o_orderkey;
# o_totalprice=always_set, o_orderpriority=set_on_create,
# o_orderstatus=set_on_match
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.models import MergePolicy
    from neontology_spark.upsert import merge_keyed

    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1995-01-01").cast("timestamp")
    existing = orders.filter(F.col("o_orderdate") < cut)
    batch = orders.filter(F.col("o_orderdate") >= cut)
    # both sides deduped to one row per customer (latest order wins)
    from pyspark.sql import Window as W

    def latest(df):
        w = W.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    existing = latest(existing).select(
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    batch = latest(batch).select(
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority", "o_orderkey"
    )
    post = merge_keyed(
        existing,
        batch.drop("o_orderkey"),
        keys=["o_custkey"],
        policies={
            "o_totalprice": MergePolicy.ALWAYS_SET,
            "o_orderpriority": MergePolicy.SET_ON_CREATE,
            "o_orderstatus": MergePolicy.SET_ON_MATCH,
        },
    )
    return post.select(
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority",
    ).orderBy("o_custkey")


O_MERGE = """
WITH existing AS (
  SELECT o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) rn
    FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01') WHERE rn = 1
),
batch AS (
  SELECT o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) rn
    FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01') WHERE rn = 1
)
SELECT COALESCE(e.o_custkey, b.o_custkey) AS o_custkey,
       CASE WHEN e.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL
            THEN b.o_orderstatus ELSE e.o_orderstatus END AS o_orderstatus,
       round(CASE WHEN b.o_custkey IS NOT NULL
            THEN b.o_totalprice ELSE e.o_totalprice END, 2) AS o_totalprice,
       CASE WHEN e.o_custkey IS NULL AND b.o_custkey IS NOT NULL
            THEN b.o_orderpriority ELSE e.o_orderpriority END AS o_orderpriority
FROM existing e FULL OUTER JOIN batch b ON e.o_custkey = b.o_custkey
ORDER BY o_custkey
"""


# S4 — relationship upsert end-to-end (graphengine.py:255-295, merge_on
# semantics fixed by tests/test_baserelationship.py:117-206): endpoint
# resolution silently drops batch rows whose source doesn't exist, edge
# identity is (source, target, merge_on value) — same identity ⇒ price
# overwritten (ALWAYS_SET), different prio ⇒ a NEW edge row.
def q_s4_merge_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from neontology_spark.models import MergePolicy, Property, RelationshipModel
    from neontology_spark.relationships import resolve_and_merge_relationships

    orders = _t(spark, sf_dir, "orders")
    edges = orders.select(
        F.col("o_custkey").alias("source"),
        F.pmod(F.col("o_custkey"), F.lit(25)).alias("target"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
        "o_orderkey",
        "o_orderdate",
    )
    cut = F.lit("1995-01-01").cast("timestamp")

    def latest(df):
        w = W.partitionBy("source", "target", "prio").orderBy(
            F.col("o_orderkey").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "o_orderkey", "o_orderdate")
        )

    existing = latest(edges.filter(F.col("o_orderdate") < cut))
    batch = latest(edges.filter(F.col("o_orderdate") >= cut))
    model = RelationshipModel(
        rel_type="FAKE_EDGE",
        source_label="CustomerT",
        target_label="NationT",
        properties=[
            Property("prio", str, policy=MergePolicy.MERGE_ON),
            Property("price", float, policy=MergePolicy.ALWAYS_SET),
        ],
    )
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 10)
    nation = _t(spark, sf_dir, "nation")
    post = resolve_and_merge_relationships(
        existing,
        batch,
        model,
        source_nodes=cust,
        target_nodes=nation,
        source_key="c_custkey",
        target_key="n_nationkey",
        broadcast_nodes=True,
    )
    return post.select(
        "source", "target", "prio", F.round("price", 2).alias("price")
    ).orderBy("source", "target", "prio")


O_S4 = """
WITH edges AS (
  SELECT o_custkey AS source, o_custkey % 25 AS target,
         o_orderpriority AS prio, o_totalprice AS price,
         o_orderkey, o_orderdate
  FROM orders
),
existing AS (
  SELECT source, target, prio, price FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source, target, prio ORDER BY o_orderkey DESC) rn
    FROM edges WHERE o_orderdate < TIMESTAMP '1995-01-01') WHERE rn = 1
),
batch AS (
  SELECT source, target, prio, price FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source, target, prio ORDER BY o_orderkey DESC) rn
    FROM edges WHERE o_orderdate >= TIMESTAMP '1995-01-01') WHERE rn = 1
),
resolved AS (
  SELECT b.* FROM batch b
  WHERE b.source IN (SELECT c_custkey FROM customer WHERE c_nationkey < 10)
    AND b.target IN (SELECT n_nationkey FROM nation)
)
SELECT COALESCE(e.source, b.source) AS source,
       COALESCE(e.target, b.target) AS target,
       COALESCE(e.prio, b.prio) AS prio,
       round(COALESCE(b.price, e.price), 2) AS price
FROM existing e FULL OUTER JOIN resolved b
  ON e.source = b.source AND e.target = b.target AND e.prio = b.prio
ORDER BY source, target, prio
"""


# J5 — bounded multi-hop traversal (get_related, basenode.py:425-528) on a
# synthetic edge table derived from events; oracle = recursive CTE
def q_j5_traverse_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.relationships import get_related

    ev = _t(spark, sf_dir, "events")
    edges = (
        ev.select(
            F.col("user_id").cast("string").alias("source"),
            ((F.col("user_id") * 7 + 3) % 1000).cast("string").alias("target"),
        )
        .dropDuplicates()
    )
    start = spark.createDataFrame([("1",), ("2",)], "key string")
    out = get_related(
        {"NEXT": edges}, start, rel_types=["NEXT"], min_depth=1, max_depth=3,
        distinct=True,
    )
    return out.select("start", "node").orderBy("start", "node")


O_J5_DEPTH = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS source,
         CAST((user_id * 7 + 3) % 1000 AS VARCHAR) AS target
  FROM events
),
walk AS (
  SELECT s.start, e.target AS node, 1 AS depth
  FROM (SELECT '1' AS start UNION ALL SELECT '2') s
  JOIN edges e ON e.source = s.start
  UNION ALL
  SELECT w.start, e.target, w.depth + 1
  FROM walk w JOIN edges e ON e.source = w.node
  WHERE w.depth < 3
)
SELECT DISTINCT start, node FROM walk ORDER BY start, node
"""


# DRIFT — fixed-edge histogram (width_bucket semantics) per partition
_Q_EDGES = (0.0, 10.0, 20.0, 30.0, 40.0, 50.0)


def q_drift_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks.drift import numeric_histogram

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "part_year", F.year("l_shipdate").cast("long")
    )
    h = numeric_histogram(li, "l_quantity", list(_Q_EDGES), part_col="part_year")
    return h.select(
        F.col("part").alias("part_year"), "bucket", "n"
    ).orderBy("part_year", "bucket")


# width_bucket(x, lo, hi, n): 0 below lo, n+1 at/above hi, else
# floor((x-lo)/(hi-lo)*n)+1 — replicated with arithmetic for DuckDB
O_DRIFT_HIST = f"""
SELECT year(l_shipdate) AS part_year,
       printf('b%05d', CASE WHEN l_quantity < {_Q_EDGES[0]} THEN 0
            WHEN l_quantity >= {_Q_EDGES[-1]} THEN {len(_Q_EDGES)}
            ELSE CAST(floor((l_quantity - {_Q_EDGES[0]}) / ({_Q_EDGES[-1]} - {_Q_EDGES[0]}) * {len(_Q_EDGES) - 1}) AS INT) + 1 END) AS bucket,
       count(*) AS n
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""


# DRIFT — PSI + KS per partition vs a baseline snapshot distribution
def q_drift_psi_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks.drift import drift_metrics, numeric_histogram

    li = _t(spark, sf_dir, "lineitem")
    baseline = li.filter(F.year("l_shipdate") == 1995)
    current = li.withColumn("part_year", F.year("l_shipdate").cast("long"))
    m = drift_metrics(
        numeric_histogram(baseline, "l_quantity", list(_Q_EDGES)),
        numeric_histogram(current, "l_quantity", list(_Q_EDGES), part_col="part_year"),
    )
    return m.select(
        F.col("part").alias("part_year"),
        F.round("psi", 6).alias("psi"),
        F.round("ks", 6).alias("ks"),
    ).orderBy("part_year")


O_DRIFT_PSI = f"""
WITH bucketed AS (
  SELECT year(l_shipdate) AS part_year,
         CASE WHEN l_quantity < {_Q_EDGES[0]} THEN 0
              WHEN l_quantity >= {_Q_EDGES[-1]} THEN {len(_Q_EDGES)}
              ELSE CAST(floor((l_quantity - {_Q_EDGES[0]}) / ({_Q_EDGES[-1]} - {_Q_EDGES[0]}) * {len(_Q_EDGES) - 1}) AS INT) + 1 END AS bucket
  FROM lineitem
),
base AS (
  SELECT bucket, count(*)::DOUBLE / (SELECT count(*) FROM bucketed WHERE part_year = 1995) AS p_base
  FROM bucketed WHERE part_year = 1995 GROUP BY bucket
),
cur AS (
  SELECT part_year, bucket,
         count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY part_year) AS p_cur
  FROM bucketed GROUP BY part_year, bucket
),
grid AS (
  SELECT py.part_year, b.bucket, b.p_base FROM (SELECT DISTINCT part_year FROM cur) py CROSS JOIN base b
),
joined AS (
  SELECT COALESCE(g.part_year, c.part_year) AS part_year,
         COALESCE(g.bucket, c.bucket) AS bucket,
         COALESCE(c.p_cur, 0.0) AS p_cur,
         COALESCE(g.p_base, 0.0) AS p_base
  FROM grid g FULL OUTER JOIN cur c ON g.part_year = c.part_year AND g.bucket = c.bucket
),
cdf AS (
  SELECT part_year,
         (p_cur - p_base) * ln((p_cur + 1e-6) / (p_base + 1e-6)) AS psi_term,
         sum(p_cur) OVER (PARTITION BY part_year ORDER BY bucket) AS cdf_cur,
         sum(p_base) OVER (PARTITION BY part_year ORDER BY bucket) AS cdf_base
  FROM joined
)
SELECT part_year, round(sum(psi_term), 6) AS psi,
       round(max(abs(cdf_cur - cdf_base)), 6) AS ks
FROM cdf GROUP BY part_year ORDER BY part_year
"""


# DRIFT — categorical histogram variant (fmt-style value domains): PSI+KS
# per partition over value buckets (checks/drift.categorical_histogram)
def q_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks.drift import categorical_histogram, drift_metrics

    orders = _t(spark, sf_dir, "orders")
    baseline = orders.filter(F.year("o_orderdate") == 1995)
    current = orders.withColumn("part_year", F.year("o_orderdate").cast("long"))
    m = drift_metrics(
        categorical_histogram(baseline, "o_orderpriority"),
        categorical_histogram(current, "o_orderpriority", part_col="part_year"),
    )
    return m.select(
        F.col("part").alias("part_year"),
        F.round("psi", 6).alias("psi"),
        F.round("ks", 6).alias("ks"),
    ).orderBy("part_year")


O_DRIFT_CAT = """
WITH bucketed AS (
  SELECT year(o_orderdate) AS part_year,
         COALESCE(o_orderpriority, '<null>') AS bucket
  FROM orders
),
base AS (
  SELECT bucket, count(*)::DOUBLE /
         (SELECT count(*) FROM bucketed WHERE part_year = 1995) AS p_base
  FROM bucketed WHERE part_year = 1995 GROUP BY bucket
),
cur AS (
  SELECT part_year, bucket,
         count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY part_year) AS p_cur
  FROM bucketed GROUP BY part_year, bucket
),
grid AS (
  SELECT py.part_year, b.bucket, b.p_base
  FROM (SELECT DISTINCT part_year FROM cur) py CROSS JOIN base b
),
joined AS (
  SELECT COALESCE(g.part_year, c.part_year) AS part_year,
         COALESCE(g.bucket, c.bucket) AS bucket,
         COALESCE(c.p_cur, 0.0) AS p_cur,
         COALESCE(g.p_base, 0.0) AS p_base
  FROM grid g FULL OUTER JOIN cur c
    ON g.part_year = c.part_year AND g.bucket = c.bucket
),
cdf AS (
  SELECT part_year,
         (p_cur - p_base) * ln((p_cur + 1e-6) / (p_base + 1e-6)) AS psi_term,
         sum(p_cur) OVER (PARTITION BY part_year ORDER BY bucket) AS cdf_cur,
         sum(p_base) OVER (PARTITION BY part_year ORDER BY bucket) AS cdf_base
  FROM joined
)
SELECT part_year, round(sum(psi_term), 6) AS psi,
       round(max(abs(cdf_cur - cdf_base)), 6) AS ks
FROM cdf GROUP BY part_year ORDER BY part_year
"""


# F2c — datetime lookups through the filter DSL, timestamps in the output
# (session TZ pinned UTC for oracle parity)
def q_f2_filter_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from neontology_spark.filters import compile_filters

    ev = _t(spark, sf_dir, "events")
    pred = compile_filters(
        {
            "ts__gte": datetime.datetime(2024, 1, 2, 0, 0, 0),
            "ts__lt": datetime.datetime(2024, 1, 3, 0, 0, 0),
            "event_type__in": ["click", "view"],
        }
    )
    return ev.filter(pred).select("event_id", "ts", "event_type").orderBy("event_id")


O_F2_DT = """
SELECT event_id, ts, event_type FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
  AND event_type IN ('click', 'view')
ORDER BY event_id
"""


# F2d — temporal ACCESSOR lookups (field__year / field__day__lte …),
# replaying the reference's datetime-component access in queries
# (n.test_created.year, tests/test_basenode.py:391-415; SURVEY §2.7)
def q_f2_filter_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.filters import compile_filters

    ev = _t(spark, sf_dir, "events")
    pred = compile_filters(
        {
            "ts__month": 1,
            "ts__day__lte": 3,
            "ts__hour__gte": 6,
            "event_type": "click",
        }
    )
    return ev.filter(pred).select("event_id", "ts").orderBy("event_id")


O_F2_TEMPORAL = """
SELECT event_id, ts FROM events
WHERE month(ts) = 1 AND day(ts) <= 3 AND hour(ts) >= 6
  AND event_type = 'click'
ORDER BY event_id
"""


# S1 — CREATE append semantics: duplicates allowed, detected by the
# uniqueness check afterwards (tests/test_basenode.py:113-141)
def q_s1_create_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.nodes import create_nodes
    from neontology_spark.checks import duplicate_keys

    cust = _t(spark, sf_dir, "customer")
    batch = cust.filter(F.col("c_nationkey") == 5)
    post = create_nodes(cust, batch)
    dups = duplicate_keys(post, "c_custkey")
    return dups.agg(
        F.count(F.lit(1)).alias("n_dup_keys"),
        F.max("dup_count").alias("max_dup"),
    )


O_S1 = """
SELECT count(*) AS n_dup_keys, max(c) AS max_dup FROM (
  SELECT c_custkey, count(*) AS c FROM (
    SELECT * FROM customer UNION ALL SELECT * FROM customer WHERE c_nationkey = 5
  ) GROUP BY c_custkey HAVING count(*) > 1
)
"""


# S3 — DETACH DELETE: remove nodes + cascade edges (graphengine.py:236-253)
def q_s3_detach_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.models import NodeModel, Property, RelationshipModel
    from neontology_spark.nodes import delete_nodes

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "source"
    ).withColumn("target", F.col("o_orderkey").cast("string"))
    model = NodeModel(
        label="CustomerT",
        primary_property="c_custkey",
        properties=[Property("c_custkey", int)],
    )
    rmodel = RelationshipModel(
        rel_type="PLACED", source_label="CustomerT", target_label="OrderT"
    )
    # predicate-delete overload (VERDICT r2 #7): "DELETE WHERE" stays
    # distributed end-to-end — no driver collect of the kill set
    post_nodes, post_edges = delete_nodes(
        cust, model, F.col("c_nationkey") == 5,
        edge_tables={"PLACED": (orders, rmodel)},
    )
    return post_nodes.agg(F.count(F.lit(1)).alias("n_customers")).crossJoin(
        post_edges["PLACED"].agg(F.count(F.lit(1)).alias("n_orders"))
    )


O_S3 = """
SELECT
  (SELECT count(*) FROM customer WHERE c_nationkey <> 5) AS n_customers,
  (SELECT count(*) FROM orders
   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_nationkey = 5)
  ) AS n_orders
"""


# TEXT — one-pass text profile over documents (token/BPE-ish counts,
# punct/alpha ratios, portable md5 fingerprint)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark import textops

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.token_count("text").alias("n_tokens"),
        textops.bpe_ish_count("text").alias("n_bpe_units"),
        F.round(textops.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(textops.alpha_ratio("text"), 6).alias("alpha_ratio"),
        textops.fingerprint_md5("text").alias("fp_md5"),
    ).orderBy("doc_id")


O_TEXT_PROFILE = r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_units,
  round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
        / greatest(length(text), 1), 6) AS punct_ratio,
  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        / greatest(length(text), 1), 6) AS alpha_ratio,
  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5
FROM documents ORDER BY doc_id
"""


# TEXT — language-ID (stopword-marker heuristic, argmax over per-language
# scores with Spark's struct-max tie-break) + composite quality score
# (textops.detect_language / quality_score; SURVEY "text analysis" family)
def q_text_langid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark import textops

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.detect_language("text").alias("lang_detected"),
        F.round(textops.stopword_ratio("text"), 6).alias("en_stopword_ratio"),
        F.round(textops.mean_word_length("text"), 6).alias("mean_word_len"),
        F.round(textops.quality_score("text"), 6).alias("quality"),
    ).orderBy("doc_id")


O_TEXT_LANG = r"""
WITH t AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
r AS (
  SELECT doc_id, text, len(toks) AS n_tok,
    len(list_filter(toks, x -> list_contains(
      ['der','die','das','und','ist','nicht','ein','eine','zu','mit'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_de,
    len(list_filter(toks, x -> list_contains(
      ['the','and','of','to','a','in','is','it','that','was'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_en,
    len(list_filter(toks, x -> list_contains(
      ['el','la','los','y','es','una','un','en','que','por'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_es,
    len(list_filter(toks, x -> list_contains(
      ['le','la','les','et','est','une','un','dans','que','pour'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_fr,
    list_sum(list_transform(toks, x -> length(x)))::DOUBLE
      / greatest(len(toks), 1) AS mwl,
    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
      / greatest(length(text), 1) AS pr
  FROM t
)
SELECT doc_id,
  CASE WHEN greatest(sc_de, sc_en, sc_es, sc_fr) < 0.05 THEN 'und'
       WHEN sc_fr = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'fr'
       WHEN sc_es = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'es'
       WHEN sc_en = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'en'
       ELSE 'de' END AS lang_detected,
  round(sc_en, 6) AS en_stopword_ratio,
  round(mwl, 6) AS mean_word_len,
  round(0.3::DOUBLE * (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END)
      + 0.25::DOUBLE * (CASE WHEN pr < 0.2 THEN 1.0::DOUBLE ELSE 0.4::DOUBLE END)
      + 0.25::DOUBLE * (CASE WHEN mwl >= 2.5 AND mwl <= 12.0 THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END)
      + 0.2::DOUBLE * (CASE WHEN sc_en > 0.02 THEN 1.0::DOUBLE ELSE 0.6::DOUBLE END), 6) AS quality
FROM r ORDER BY doc_id
"""


# TEXT — the curation decision itself: keep/drop + machine-readable
# reasons composed from the verified langid/quality/token primitives
# (what a training-data filter stage actually emits)
def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark import textops

    docs = _t(spark, sf_dir, "documents")
    q = F.round(textops.quality_score("text"), 6)
    lang = textops.detect_language("text")
    ntok = textops.token_count("text")
    keep = (q >= 0.8) & (lang == "en") & (ntok >= 10)
    reasons = F.concat_ws(
        ",",
        F.when(q < 0.8, F.lit("low_quality")),
        F.when(lang != "en", F.lit("non_english")),
        F.when(ntok < 10, F.lit("too_short")),
    )
    return docs.select(
        "doc_id",
        keep.alias("keep"),
        F.when(~keep, reasons).otherwise(F.lit("")).alias("reasons"),
    ).orderBy("doc_id")


O_TEXT_FILTER = r"""
WITH t AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents
),
r AS (
  SELECT doc_id, len(toks) AS n_tok,
    len(list_filter(toks, x -> list_contains(
      ['der','die','das','und','ist','nicht','ein','eine','zu','mit'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_de,
    len(list_filter(toks, x -> list_contains(
      ['the','and','of','to','a','in','is','it','that','was'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_en,
    len(list_filter(toks, x -> list_contains(
      ['el','la','los','y','es','una','un','en','que','por'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_es,
    len(list_filter(toks, x -> list_contains(
      ['le','la','les','et','est','une','un','dans','que','pour'], lower(x))))::DOUBLE
      / greatest(len(toks), 1) AS sc_fr,
    list_sum(list_transform(toks, x -> length(x)))::DOUBLE
      / greatest(len(toks), 1) AS mwl,
    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
      / greatest(length(text), 1) AS pr
  FROM t
),
scored AS (
  SELECT doc_id, n_tok,
    CASE WHEN greatest(sc_de, sc_en, sc_es, sc_fr) < 0.05 THEN 'und'
         WHEN sc_fr = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'fr'
         WHEN sc_es = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'es'
         WHEN sc_en = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'en'
         ELSE 'de' END AS lang,
    round(0.3::DOUBLE * (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END)
        + 0.25::DOUBLE * (CASE WHEN pr < 0.2 THEN 1.0::DOUBLE ELSE 0.4::DOUBLE END)
        + 0.25::DOUBLE * (CASE WHEN mwl >= 2.5 AND mwl <= 12.0 THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END)
        + 0.2::DOUBLE * (CASE WHEN sc_en > 0.02 THEN 1.0::DOUBLE ELSE 0.6::DOUBLE END), 6) AS q
  FROM r
)
SELECT doc_id,
  (q >= 0.8 AND lang = 'en' AND n_tok >= 10) AS keep,
  CASE WHEN (q >= 0.8 AND lang = 'en' AND n_tok >= 10) THEN ''
       ELSE concat_ws(',',
         CASE WHEN q < 0.8 THEN 'low_quality' END,
         CASE WHEN lang <> 'en' THEN 'non_english' END,
         CASE WHEN n_tok < 10 THEN 'too_short' END)
  END AS reasons
FROM scored ORDER BY doc_id
"""


# DEDUP — exact duplicate groups (deterministically planted duplicates)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.dedup import exact_duplicate_groups

    docs = _t(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    # 51-member mega-group (doc 1 + 50 copies): exercises the bounded
    # doc_ids cap (max_ids=20) — n_docs stays exact, the id list does not
    big = docs.filter(F.col("doc_id") == 1).crossJoin(
        spark.range(50)
    ).select(
        (F.col("id") + 200000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    union = docs.unionByName(planted).unionByName(big)
    g = exact_duplicate_groups(union, max_ids=20)
    return g.select(
        "fp_md5", "n_docs", F.array_join(F.transform("doc_ids", lambda d: d.cast("string")), ",").alias("doc_ids")
    ).orderBy("fp_md5")


O_DEDUP_EXACT = r"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT 200000 + t.i, d.text FROM documents d CROSS JOIN range(50) t(i)
  WHERE d.doc_id = 1
)
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
       count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id))[1:20], ',') AS doc_ids
FROM unioned
GROUP BY 1 HAVING count(*) > 1 ORDER BY fp_md5
"""


# §2.9 MULTIMODAL — audio plumbing end-to-end. Bytes are synthesized
# INSIDE executors (sine PCM keyed on doc_id → encode_wav) and decoded by
# the Arrow audio_features kernel — the full binary-column round trip.
# Full three-axis oracle (VERDICT r4 #1): the WAV *bytes* aren't
# SQL-expressible, but the decoded features are — O_MULTIMODAL_AUDIO
# replays the exact numeric pipeline in DuckDB (sin in float64 →
# float32 cast → ×32768 [exact: power of two] → clip → trunc-toward-zero
# int16 quantization [numpy astype('<i2') semantics] → /32768 → RMS in
# float64); verified bit-identical to the numpy kernel per row.
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.multimodal import audio_features

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id"
    )

    def gen(it):
        import numpy as np
        import pandas as pd

        from neontology_spark.multimodal import encode_wav

        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                t = np.arange(1600) / 16000.0
                freq = 200.0 + float(d % 20) * 10.0
                pcm = (np.sin(2 * np.pi * freq * t) * 0.5).astype(np.float32)
                rows.append(
                    {"audio_id": f"a{int(d):05d}", "bytes": encode_wav(pcm)}
                )
            yield pd.DataFrame(rows)

    audio = docs.mapInPandas(gen, schema="audio_id string, bytes binary")
    return (
        audio_features(audio)
        .select(
            "audio_id",
            "decode_ok",
            "sample_rate",
            "channels",
            F.round("duration_sec", 4).alias("duration_sec"),
            F.round("rms", 4).alias("rms"),
        )
        .orderBy("audio_id")
    )


O_MULTIMODAL_AUDIO = r"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
samp AS (
  SELECT i.doc_id,
         trunc(greatest(least(
           CAST(CAST(sin(2*pi()*(200.0 + (i.doc_id % 20)*10.0) * k.k
                         / 16000.0) * 0.5 AS REAL) AS DOUBLE) * 32768.0,
           32767.0), -32768.0)) / 32768.0 AS s
  FROM ids i CROSS JOIN range(1600) k(k)
)
SELECT printf('a%05d', doc_id) AS audio_id,
       TRUE AS decode_ok, 16000 AS sample_rate, 1 AS channels,
       round(1600.0/16000.0, 4) AS duration_sec,
       round(sqrt(avg(s*s)), 4) AS rms
FROM samp GROUP BY doc_id ORDER BY audio_id
"""


# Q1 — raw-query escape hatch (evaluate_query parity, query.py): register
# model tables as label-named views, run user SQL, hydrate typed nodes.
# The records frame is the oracle subject (same SQL, DuckDB dialect);
# the hydrated node frame feeds the returned count column, so the
# label-hydration path is inside the compared result too.
def q_run_query_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.models import ModelCatalog, NodeModel, Property
    from neontology_spark.query import run_query

    catalog = ModelCatalog()
    catalog.register_node(
        NodeModel(
            label="CustomerQ1",
            primary_property="c_custkey",
            properties=[
                Property("c_custkey", int),
                Property("c_name", str),
                Property("c_mktsegment", str),
            ],
        )
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    res = run_query(
        spark,
        "SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS min_key "
        "FROM CustomerQ1 GROUP BY c_mktsegment",
        catalog,
        {"CustomerQ1": cust},
    )
    hydr = run_query(
        spark,
        "SELECT struct(c.*) AS CustomerQ1 FROM CustomerQ1 c "
        "WHERE c.c_custkey <= 50",
        catalog,
        {"CustomerQ1": cust},
    )
    n_hydrated = hydr.nodes["CustomerQ1"].count()
    return res.records.withColumn(
        "n_hydrated_nodes", F.lit(n_hydrated).cast("long")
    ).orderBy("c_mktsegment")


O_RUN_QUERY = """
SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS min_key,
       (SELECT count(*) FROM customer WHERE c_custkey <= 50)
         AS n_hydrated_nodes
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# Q1b — raw-query RELATIONSHIP hydration (VERDICT r4 #4): the escape
# hatch returns a struct column named after a registered rel type with
# embedded source/target node structs (reference semantics
# neo4jengine.py:118-126 — 'relationship type query did not include
# nodes' unless endpoints ride along); run_query hydrates it into
# QueryResult.relationships[rel_type]. The compared frame flattens the
# hydrated rel (endpoint pps + names + the rel property), so the
# _hydrate_rel_column path itself is inside the oracle comparison.
def q_run_query_rel_hydration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.models import (
        ModelCatalog,
        NodeModel,
        Property,
        RelationshipModel,
    )
    from neontology_spark.query import run_query

    catalog = ModelCatalog()
    catalog.register_node(
        NodeModel(
            label="NationQ1",
            primary_property="n_nationkey",
            properties=[
                Property("n_nationkey", int),
                Property("n_name", str),
                Property("n_regionkey", int),
            ],
        )
    )
    catalog.register_node(
        NodeModel(
            label="RegionQ1",
            primary_property="r_regionkey",
            properties=[Property("r_regionkey", int), Property("r_name", str)],
        )
    )
    catalog.register_rel(
        RelationshipModel(
            rel_type="IN_REGION_Q1",
            source_label="NationQ1",
            target_label="RegionQ1",
            properties=[Property("hops", int)],
        )
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    res = run_query(
        spark,
        "SELECT struct(struct(n.*) AS source, struct(r.*) AS target, "
        "       CAST(n.n_nationkey % 3 AS INT) AS hops) AS IN_REGION_Q1 "
        "FROM NationQ1 n JOIN RegionQ1 r ON n.n_regionkey = r.r_regionkey",
        catalog,
        {"NationQ1": nat, "RegionQ1": reg},
    )
    rels = res.relationships["IN_REGION_Q1"]
    return rels.select(
        F.col("source.n_nationkey").alias("n_nationkey"),
        F.col("source.n_name").alias("n_name"),
        F.col("target.r_regionkey").alias("r_regionkey"),
        F.col("target.r_name").alias("r_name"),
        "hops",
    ).orderBy("n_nationkey")


O_RUN_QUERY_REL = """
SELECT n.n_nationkey, n.n_name, r.r_regionkey, r.r_name,
       CAST(n.n_nationkey % 3 AS INT) AS hops
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY n.n_nationkey
"""


# A6+ — per-group numeric quantiles (distribution stats beyond min/max):
# exact interpolated percentile, bit-identical to DuckDB quantile_cont
# (verified to 0 ulp on this data); the 10^12-row path is the same
# operator with exact=False (GK-sketch approx_percentile), deviation
# pytest-bounded in tests/test_drift.py.
def q_column_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks.stats import numeric_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return numeric_quantiles(
        li,
        ["l_extendedprice", "l_quantity"],
        probs=(0.1, 0.5, 0.9, 0.99),
        part_col="l_linenumber",
    ).orderBy("part", "column", "prob")


O_QUANTILES = """
WITH g AS (
  SELECT CAST(l_linenumber AS BIGINT) AS part,
         quantile_cont(l_extendedprice, [0.1, 0.5, 0.9, 0.99]) AS qp,
         quantile_cont(l_quantity, [0.1, 0.5, 0.9, 0.99]) AS qq
  FROM lineitem GROUP BY 1
),
long AS (
  SELECT part, 'l_extendedprice' AS "column",
         unnest([0.1, 0.5, 0.9, 0.99]) AS prob,
         unnest(qp) AS quantile
  FROM g
  UNION ALL
  SELECT part, 'l_quantity', unnest([0.1, 0.5, 0.9, 0.99]),
         unnest(qq)
  FROM g
)
SELECT part, "column", CAST(prob AS DOUBLE) AS prob,
       CAST(quantile AS DOUBLE) AS quantile
FROM long ORDER BY part, "column", prob
"""


# DRIFT — quantile-based drift vs a baseline snapshot (complements the
# histogram PSI/KS pair: quantile shifts see location/scale changes at
# exactly the probed ranks, no bucket-edge choice). Exact mode here for
# the bit-parity oracle; exact=False (GK sketch) is the 10^12-row path.
def q_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks.drift import quantile_drift

    li = _t(spark, sf_dir, "lineitem")
    baseline = li.filter(F.col("l_orderkey") % 2 == 0)
    m = quantile_drift(
        baseline,
        li,
        ["l_extendedprice"],
        probs=(0.25, 0.5, 0.75),
        part_col="l_linenumber",
        exact=True,
    )
    return m.orderBy("part", "prob")


O_QUANTILE_DRIFT = """
WITH base AS (
  SELECT 'l_extendedprice' AS "column",
         unnest([0.25, 0.5, 0.75]) AS prob,
         unnest(quantile_cont(l_extendedprice, [0.25, 0.5, 0.75])) AS q_base
  FROM lineitem WHERE l_orderkey % 2 = 0
),
cur AS (
  SELECT CAST(l_linenumber AS BIGINT) AS part,
         'l_extendedprice' AS "column",
         unnest([0.25, 0.5, 0.75]) AS prob,
         unnest(quantile_cont(l_extendedprice, [0.25, 0.5, 0.75])) AS q_cur
  FROM lineitem GROUP BY 1
)
SELECT part, "column", CAST(prob AS DOUBLE) AS prob,
       CAST(q_base AS DOUBLE) AS q_base, CAST(q_cur AS DOUBLE) AS q_cur,
       round((q_cur - q_base) / abs(q_base), 6) AS rel_shift,
       round(q_cur - q_base, 6) AS abs_shift
FROM cur JOIN base USING ("column", prob)
ORDER BY part, prob
"""


# STREAMING/BATCH — tumbling-window event counts (the batch semantics of
# streaming.windowed_event_counts — identical code path runs under
# readStream with the watermark bounding state). DuckDB time_bucket's
# default origin (2000-01-01) falls on a 5-minute boundary of Spark's
# epoch-aligned windows, so the bucket edges agree exactly.
def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.streaming import windowed_event_counts

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    return (
        windowed_event_counts(ev, window="5 minutes", group_col="event_type")
        .withColumn("total_value", F.round("total_value", 6))
        .orderBy("window_start", "event_type")
    )


O_EVENT_WINDOWS = """
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
       time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS window_end,
       event_type,
       count(*) AS n,
       round(sum(value), 6) AS total_value
FROM events WHERE user_id < 60
GROUP BY 1, 2, 3 ORDER BY window_start, event_type
"""


# STREAMING/BATCH — sessionization over the events table: session_window
# (no self-join, no whole-table sort) vs the classic gaps-and-islands
# SQL in DuckDB. Boundary rule pinned (tests/test_streaming.py): an
# event exactly `gap` after the previous one still EXTENDS the session
# (Spark merges touching [t, t+gap) windows); only a strictly longer
# quiet period starts a new one, so the oracle breaks on
# `ts - lag(ts) > gap`.
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.streaming import sessionize

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return sessionize(ev, gap="30 minutes").orderBy("user_id", "session_start")


O_SESSIONIZE = """
WITH e AS (
  SELECT user_id, ts, value FROM events WHERE user_id < 40
),
m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value,
       round(epoch(max(ts)) - epoch(min(ts)), 3) AS duration_sec
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
"""


# TEXT — benchmark decontamination (n-gram overlap vs a held-out set):
# bench = 3 docs; corpus = a disjoint id range PLUS planted full copies
# of the bench docs (ids +900000) — those must surface with maximal
# shared-8-gram counts, along with any natural cross-duplicates. The
# engine joins on xxhash64 of the gram; the oracle joins on the gram
# string — equal results unless a 64-bit collision occurs (none at this
# scale). n_kept folds decontaminate()'s anti-join into the compared
# frame (corpus rows minus flagged docs).
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.textops import contamination_report

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(
        (F.col("doc_id") % 100 == 3) & (F.col("doc_id") < 300)
    ).select(F.col("doc_id").alias("bench_id"), "text")
    corpus = (
        docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 800))
        .select("doc_id", "text")
        .unionByName(
            bench.select((F.col("bench_id") + 900000).alias("doc_id"), "text")
        )
    )
    # one gram join: the report is computed once (GC-scoped checkpoint)
    # and reused for both the compared rows and the decontaminate-count
    # column — decontaminate()'s anti-join equals corpus minus the
    # report's flagged doc set at min_overlap=1 (its own path is
    # unit-tested in test_textops.py)
    rep = contamination_report(corpus, bench, n=8).localCheckpoint(
        eager=False
    )
    n_kept = corpus.count() - rep.select("doc_id").distinct().count()
    return (
        rep.withColumn("n_kept", F.lit(n_kept).cast("long"))
        .orderBy("doc_id", "bench_id")
    )


O_DECONTAM = r"""
WITH bench AS (
  SELECT doc_id AS bench_id, text FROM documents
  WHERE doc_id % 100 = 3 AND doc_id < 300
),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 800
  UNION ALL
  SELECT bench_id + 900000, text FROM bench
),
ctoks AS (
  SELECT doc_id,
         list_filter(string_split(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '') AS toks
  FROM corpus
),
btoks AS (
  SELECT bench_id,
         list_filter(string_split(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '') AS toks
  FROM bench
),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(toks[j:j+7], ' ') AS g
  FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 6, 1))) AS j
        FROM ctoks)
),
bg AS (
  SELECT DISTINCT bench_id, array_to_string(toks[j:j+7], ' ') AS g
  FROM (SELECT bench_id, toks,
               unnest(range(1, greatest(len(toks) - 6, 1))) AS j
        FROM btoks)
),
rep AS (
  SELECT cg.doc_id, bg.bench_id, count(*) AS n_shared_ngrams
  FROM cg JOIN bg USING (g)
  GROUP BY cg.doc_id, bg.bench_id
)
SELECT doc_id, bench_id, n_shared_ngrams,
       (SELECT count(*) FROM corpus)
         - (SELECT count(DISTINCT doc_id) FROM rep) AS n_kept
FROM rep ORDER BY doc_id, bench_id
"""


# TEXT — corpus token-frequency top-k (vocabulary head): explode + one
# map-side-combinable groupBy + TakeOrderedAndProject; ties at the k
# boundary break on token asc in both engines.
def q_text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.textops import top_tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return top_tokens(docs, "text", id_col="doc_id", k=50).orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    )


O_TOP_TOKENS = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '')) AS token
  FROM documents WHERE doc_id < 500
)
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY token
ORDER BY n_occurrences DESC, token ASC LIMIT 50
"""


# TEXT — PII redaction + counts over planted emails/IPs/phones; the
# pattern strings are restricted to Java-regex ∩ RE2 syntax so the
# oracle runs the IDENTICAL patterns (textops.PII_PATTERNS).
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.textops import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(
                F.lit("contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
            F.concat(
                F.lit("ip 10.0."),
                F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                F.lit(".7"),
            ),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("call 555-123-4567")
            ).otherwise(F.lit("no phone here")),
        ).alias("text"),
    )
    c = pii_counts("text")
    return planted.select(
        "doc_id",
        F.md5(redact_pii("text")).alias("redacted_md5"),
        c["email"].alias("n_email"),
        c["ipv4"].alias("n_ipv4"),
        c["phone"].alias("n_phone"),
    ).orderBy("doc_id")


O_PII = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com'
              || ' ip 10.0.' || (doc_id % 256) || '.7 '
              || CASE WHEN doc_id % 3 = 0
                 THEN 'call 555-123-4567' ELSE 'no phone here' END AS text
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
      '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g')) AS redacted_md5,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(text,
      '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS n_phone
FROM planted ORDER BY doc_id
"""


# TEXT — repetition metrics (Gopher-style): planted docs repeat their own
# text as a second line, so dup_line_frac = 1/3 exactly; top-bigram
# fraction replayed in DuckDB with the same nested list lambdas.
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.textops import repetition_metrics

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.col("text"),
            F.concat(F.lit("unique tail "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return (
        repetition_metrics(planted)
        .select("doc_id", "dup_line_frac", "top_bigram_frac")
        .orderBy("doc_id")
    )


O_REPETITION = r"""
WITH planted AS (
  SELECT doc_id,
         text || chr(10) || text || chr(10) || 'unique tail ' || doc_id AS text
  FROM documents WHERE doc_id < 200
),
lines AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
  FROM planted
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 2
      THEN list_transform(range(0, len(toks)-1),
                          i -> array_to_string(toks[i+1:i+2], ' '))
      ELSE [] END AS g
  FROM (SELECT doc_id, list_filter(string_split(
          trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          x -> x <> '') AS toks FROM planted)
)
SELECT l.doc_id,
  round(CASE WHEN len(ls) > 0
    THEN (len(ls) - len(list_distinct(ls))) / len(ls)::DOUBLE ELSE 0 END, 6)
    AS dup_line_frac,
  round(CASE WHEN len(g) > 0
    THEN list_max(list_transform(list_distinct(g),
           x -> len(list_filter(g, y -> y = x)))) / len(g)::DOUBLE
    ELSE 0 END, 6) AS top_bigram_frac
FROM lines l JOIN grams USING (doc_id)
ORDER BY doc_id
"""


# DEDUP — incremental ingest against a persisted fingerprint store:
# batch2 rows whose normalized text was already seen in batch1 (planted
# re-ingests at +700000) drop via the store anti-join; a planted
# within-batch dup (id 800000 = copy of doc 300) drops via keep-first.
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.dedup import dedupe_exact_incremental
    from neontology_spark.textops import fingerprint_md5

    docs = _t(spark, sf_dir, "documents")
    batch1 = docs.filter(F.col("doc_id") < 300)
    seen = batch1.select(fingerprint_md5("text").alias("fp_md5")).dropDuplicates()
    batch2 = (
        docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 600))
        .select("doc_id", "text")
        .unionByName(
            batch1.filter(F.col("doc_id") % 40 == 0).select(
                (F.col("doc_id") + 700000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") == 300).select(
                F.lit(800000).alias("doc_id"), "text"
            )
        )
    )
    # cache=False: kept is materialized exactly once here, so the
    # cross-output checkpoint would only add block-write overhead
    kept = dedupe_exact_incremental(batch2, seen, cache=False).kept
    return kept.select("doc_id").orderBy("doc_id")


O_DEDUP_INCR = r"""
WITH seen AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id < 300
),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 300 AND doc_id < 600
  UNION ALL
  SELECT doc_id + 700000, text FROM documents WHERE doc_id < 300 AND doc_id % 40 = 0
  UNION ALL
  SELECT 800000, text FROM documents WHERE doc_id = 300
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM batch
),
keep_first AS (
  SELECT doc_id, fp FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS m FROM fp) WHERE doc_id = m
)
SELECT doc_id FROM keep_first WHERE fp NOT IN (SELECT fp FROM seen)
ORDER BY doc_id
"""


# DEDUP — paragraph-level: every doc gets 3 paragraphs (own text, a
# shared boilerplate footer, its own text upper-cased = a within-doc dup
# after normalization); dedupe keeps only the globally-first occurrence
# of each normalized paragraph and rebuilds the text. Oracle = the same
# split/fingerprint/row_number/string_agg pipeline in DuckDB.
_PARA_BOILER = "common boilerplate footer paragraph for every document"


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.dedup import dedupe_paragraphs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n", F.col("text"), F.lit(_PARA_BOILER), F.upper(F.col("text"))
        ).alias("text"),
    )
    out = dedupe_paragraphs(multi)
    return out.select(
        "doc_id", "n_paras", "n_kept", F.md5("text").alias("text_md5")
    ).orderBy("doc_id")


O_DEDUP_PARAS = r"""
WITH multi AS (
  SELECT doc_id,
         text || chr(10)||chr(10)
              || 'common boilerplate footer paragraph for every document'
              || chr(10)||chr(10) || upper(text) AS text
  FROM documents WHERE doc_id < 200
),
paras AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10)||chr(10))) AS para,
         generate_subscripts(string_split(text, chr(10)||chr(10)), 1) AS para_idx
  FROM multi
),
fp AS (
  SELECT doc_id, para_idx, para,
         md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g'))) AS fp_md5
  FROM paras
),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY fp_md5 ORDER BY doc_id, para_idx) AS rn
    FROM fp) WHERE rn = 1
),
totals AS (SELECT doc_id, count(*) AS n_paras FROM fp GROUP BY 1),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, chr(10)||chr(10) ORDER BY para_idx) AS text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_paras,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(r.text, '')) AS text_md5
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id
"""


# DEDUP — n-gram Jaccard pairs via inverted shingle index
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing words here")).alias("text"),
    )
    union = docs.select("doc_id", "text").unionByName(mutated)
    return jaccard_pairs(
        union, threshold=0.5, n=3, max_shingle_df=None
    ).orderBy("id_a", "id_b")


O_JACCARD = r"""
WITH unioned AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 100000, text || ' extra trailing words here'
  FROM documents WHERE doc_id < 100
),
sh AS (
  SELECT doc_id AS id,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' '))
      ELSE [array_to_string(toks, ' ')] END) AS shingles
  FROM (SELECT doc_id, list_filter(string_split(
          trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
          x -> x <> '') AS toks FROM unioned)
),
sizes AS (SELECT id, len(shingles) AS sh_size FROM sh),
inv AS (SELECT id, unnest(shingles) AS shingle FROM sh),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       round(n_common::DOUBLE / (sa.sh_size + sb.sh_size - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE n_common::DOUBLE / (sa.sh_size + sb.sh_size - n_common) >= 0.5
ORDER BY id_a, id_b
"""


# SIMILARITY — exact brute-force cosine top-k over embeddings
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries_df, k=5).orderBy("query_id", "rank")


O_SIM_TOPK = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# SIMILARITY — embedding near-dup pairs via hyperplane LSH (planted exact
# duplicates: identical vectors always share every band ⇒ recall 1.0 at
# threshold 0.9999, so the exact-search oracle is valid)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.similarity import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    union = emb.unionByName(planted)
    return embedding_near_duplicates(union, threshold=0.9999).orderBy(
        "id_a", "id_b"
    )


O_EMB_NEAR_DUP = """
WITH unioned AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 100 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
FROM unioned a JOIN unioned b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.9999
ORDER BY id_a, id_b
"""


# SIMILARITY — IVF ANN (k-means coarse quantizer + probed clusters): the
# deterministic oracle plants queries that are EXACT copies of corpus
# vectors — an identical vector lands in the same coarse cluster and is
# always probed, so every planted query's top-1 is its source at cos 1.0.
def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    # exact-duplicate recall is 1.0 for ANY quantizer quality, so the
    # driver query uses a light config (recall-vs-quality is pytest's job)
    out = ivf_topk(emb, queries_df, k=1, n_centroids=8, n_probe=2, iters=1)
    return out.select("query_id", "vec_id", "cos").orderBy("query_id")


O_IVF = """
SELECT vec_id + 100000 AS query_id, vec_id,
       CAST(1.0 AS DOUBLE) AS cos
FROM embeddings WHERE vec_id % 100 = 0 ORDER BY query_id
"""


# SIMILARITY — TWO-LEVEL IVF (VERDICT r4 #2): same planted-exact-
# duplicate oracle (identical vector → same coarse AND fine cell →
# always probed → top-1 at cos 1.0), but the quantizer's driver state
# is bounded at k_coarse × dim — fine centroids are trained per-cell
# executor-side (one applyInPandas) and ride a k_coarse-row DataFrame
# through joins, never a collect. This is the ANN config that survives
# n_cells ≈ sqrt(10^12): the flat quantizer's ~8 GB driver matrix and
# 10^9-row Lloyd collect are structurally gone (full-probe equality
# with brute force + residency proxies in tests/test_ivf_two_level.py).
def q_ivf_ann_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.similarity import ivf_topk_two_level

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = ivf_topk_two_level(
        emb,
        queries_df,
        k=1,
        k_coarse=4,
        k_fine=2,
        n_probe_coarse=2,
        n_probe_fine=2,
        iters=1,
    )
    return out.select("query_id", "vec_id", "cos").orderBy("query_id")


O_IVF_TWO_LEVEL = O_IVF


# SIMILARITY — IVF over the PERSISTED cluster-partitioned index: same
# planted-exact-duplicate oracle as ivf_ann (identical vector → same
# cluster → always probed → top-1 at cos 1.0), but the probe reads the
# materialized inverted file with a static cluster IN (...) partition
# filter — the physical partition-pruning path a 10^12-vector corpus
# needs (plan shape asserted in tests/test_dedup_similarity.py).
def q_ivf_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.similarity import (
        ivf_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, n_centroids=8, iters=1)
    # per-invocation index dir (ADVICE r4: a fixed shared path races on
    # overwrite-while-read when harness and bench run concurrently at
    # the same sf); cleaned up after the result is materialized
    path = tempfile.mkdtemp(prefix="neontology_ivf_index_")
    try:
        write_ivf_index(emb, path, cents)
        queries_df = emb.filter(F.col("vec_id") % 100 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        out = ivf_topk_indexed(spark, path, queries_df, cents, k=1, n_probe=2)
        # materialize before deleting the parquet dir the plan reads;
        # localCheckpoint keeps the returned frame self-contained
        return (
            out.select("query_id", "vec_id", "cos")
            .orderBy("query_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


O_IVF_INDEXED = O_IVF


# DEDUP — MinHash LSH + SimHash near-dup with DETERMINISTIC oracles:
# planted EXACT duplicates have identical signatures, so they collide in
# every band/chunk (recall exactly 1.0) and pass the estimate filter at
# threshold 1.0 / hamming 0 — the expected pair set is then pure SQL over
# identical normalized text (same trick as embedding_near_dup). The full
# LSH machinery (signatures, banding, bucket join, verify) is exercised
# end-to-end; probabilistic NEAR-dup recall is covered by pytest.
# The synthetic documents draw from a ~25-word vocabulary, so distinct
# base docs can share whole token sets (simhash is then legitimately
# identical) or near-identical shingle sets. Appending 8 id-derived tokens
# makes every base doc lexically unique (pairwise jaccard drops well below
# the all-64-minhash-equal regime) while planted duplicates — copied AFTER
# augmentation — stay byte-identical.
def _lsh_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    uid = F.col("doc_id").cast("string")
    aug = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"), *[F.concat(F.lit(c), uid) for c in "abcdefgh"]
        ).alias("text"),
    )
    planted = aug.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return aug.unionByName(planted)


_O_LSH_CORPUS = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' a' || doc_id || ' b' || doc_id || ' c' || doc_id
              || ' d' || doc_id || ' e' || doc_id || ' f' || doc_id
              || ' g' || doc_id || ' h' || doc_id AS text
  FROM documents WHERE doc_id < 200
),
unioned AS (
  SELECT doc_id, text FROM aug
  UNION ALL
  SELECT doc_id + 100000, text FROM aug WHERE doc_id % 20 = 0
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
  FROM unioned
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.dedup import minhash_lsh_pairs

    return (
        minhash_lsh_pairs(_lsh_corpus(spark, sf_dir), threshold=1.0)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


O_MINHASH = _O_LSH_CORPUS


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.dedup import simhash_pairs

    return (
        simhash_pairs(_lsh_corpus(spark, sf_dir), max_hamming=0)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


O_SIMHASH = _O_LSH_CORPUS  # identical planted-duplicate pair set


# F3b — keyset/seek paging (VERDICT r2 #3): WHERE pp > after ORDER BY pp
# LIMIT n, compiling to TakeOrderedAndProject (no ordering Exchange)
def q_f3_match_nodes_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.models import NodeModel, Property
    from neontology_spark.nodes import match_nodes

    cust = _t(spark, sf_dir, "customer")
    model = NodeModel(
        label="CustomerK",
        primary_property="c_custkey",
        properties=[
            Property("c_custkey", int),
            Property("c_name", str),
            Property("c_mktsegment", str),
        ],
    )
    page = match_nodes(
        cust, model, filters={"c_mktsegment__iexact": "building"},
        limit=20, after=150,
    )
    return page.select("c_custkey", "c_name")


O_F3K = """
SELECT c_custkey, c_name FROM customer
WHERE lower(c_mktsegment) = 'building' AND c_custkey > 150
ORDER BY c_custkey LIMIT 20
"""


# J5c — path hydration (VERDICT r2 #4): traversal rows carry the hop
# sequence; ties resolve to the lexicographically smallest path
def q_j5_traverse_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.relationships import get_related

    ev = _t(spark, sf_dir, "events")
    edges = (
        ev.select(
            F.col("user_id").cast("string").alias("source"),
            ((F.col("user_id") * 7 + 3) % 1000).cast("string").alias("target"),
        )
        .dropDuplicates()
    )
    start = spark.createDataFrame([("1",), ("2",)], "key string")
    out = get_related(
        {"NEXT": edges}, start, rel_types=["NEXT"], min_depth=1, max_depth=2,
        with_paths=True,
    )
    return out.select("start", "node", "depth", "path").orderBy(
        "start", "node", "depth"
    )


O_J5_PATHS = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS source,
         CAST((user_id * 7 + 3) % 1000 AS VARCHAR) AS target
  FROM events
),
walk AS (
  SELECT s.start, e.target AS node, 1 AS depth,
         s.start || '->' || e.target AS path
  FROM (SELECT '1' AS start UNION ALL SELECT '2') s
  JOIN edges e ON e.source = s.start
  UNION ALL
  SELECT w.start, e.target, w.depth + 1, w.path || '->' || e.target
  FROM walk w JOIN edges e ON e.source = w.node
  WHERE w.depth < 2
)
SELECT start, node, depth, min(path) AS path
FROM walk GROUP BY start, node, depth ORDER BY start, node, depth
"""


# §2.10 — secondary-label conformance (VERDICT r2 #5): rows whose label
# set != {primary} ∪ secondaries (neo4jengine.py:77-80 unexpected-label
# warning on read-back)
def q_label_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.checks.core import check_labels
    from neontology_spark.models import NodeModel, Property

    cust = _t(spark, sf_dir, "customer")
    model = NodeModel(
        label="Customer",
        primary_property="c_custkey",
        properties=[Property("c_custkey", int)],
        secondary_labels=("Entity",),
    )
    # plant wrong label sets: every 97th key loses its secondary label
    tagged = cust.withColumn(
        "labels",
        F.when(
            F.col("c_custkey") % 97 == 3, F.array(F.lit("Customer"))
        ).otherwise(F.array(F.lit("Customer"), F.lit("Entity"))),
    )
    vio = check_labels(tagged, model).violations
    return vio.select("check", "key", "detail").orderBy("key")


O_LABELS = """
SELECT 'label_conformance' AS "check",
       CAST(c_custkey AS VARCHAR) AS key,
       'unexpected label set: [Customer]' AS detail
FROM customer WHERE c_custkey % 97 = 3
ORDER BY key
"""


# S6 — typed bulk import incl. nested RELATIONSHIPS_OUT explode
# (VERDICT r2 #2; reference tools/import_records.py:147-383, test
# semantics tests/test_tools/test_import_records.py:111-235): node
# groups by label, exploded edges with alternate-key targets, unmatched
# targets surfaced (not dropped)
def q_s6_import_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.models import (
        ModelCatalog,
        NodeModel,
        Property,
        RelationshipModel,
    )
    from neontology_spark.tools.import_records import import_records

    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    mx = cust.agg(F.max("c_custkey")).first()[0]  # dense 1..mx (TPC-H)

    catalog = ModelCatalog()
    catalog.register_node(
        NodeModel(
            label="CustomerI",
            primary_property="c_custkey",
            properties=[Property("c_custkey", int), Property("c_name", str)],
        )
    )
    catalog.register_node(
        NodeModel(
            label="NationI",
            primary_property="n_nationkey",
            properties=[Property("n_nationkey", int), Property("n_name", str)],
        )
    )
    catalog.register_rel(
        RelationshipModel(
            rel_type="LOCATED_IN", source_label="NationI", target_label="CustomerI"
        )
    )

    cust_recs = cust.select(
        F.lit("CustomerI").alias("LABEL"), "c_custkey", "c_name"
    )
    n = F.col("n_nationkey")
    nat_recs = nation.select(
        F.lit("NationI").alias("LABEL"),
        "n_nationkey",
        "n_name",
        F.array(
            F.struct(
                F.lit("LOCATED_IN").alias("RELATIONSHIP_TYPE"),
                F.lit("CustomerI").alias("TARGET_LABEL"),
                F.lit("c_custkey").alias("TARGET_PROPERTY"),
                F.array(
                    ((n * 31 + 7) % mx + 1).cast("string"),
                    ((n * 53 + 11) % mx + 1).cast("string"),
                    (n + 9_000_000).cast("string"),  # planted unmatched
                ).alias("TARGETS"),
            )
        ).alias("RELATIONSHIPS_OUT"),
    )
    raw = cust_recs.unionByName(nat_recs, allowMissingColumns=True)
    report = import_records(raw, catalog)

    edges = report.rels_by_type["LOCATED_IN"].select("source", "target")
    um = (
        report.ri_unmatched.filter(F.col("side") == "target")
        .select(F.col("key").alias("target"))
        .dropDuplicates()
        .withColumn("unmatched", F.lit(True))
    )
    return (
        edges.join(um, "target", "left")
        .select(
            "source",
            "target",
            F.coalesce(F.col("unmatched"), F.lit(False)).alias("unmatched"),
        )
        .orderBy("source", "target")
    )


O_S6 = """
WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
tgt AS (
  SELECT CAST(n_nationkey AS VARCHAR) AS source,
         CAST((n_nationkey * 31 + 7) % (SELECT m FROM mx) + 1 AS VARCHAR) AS target
  FROM nation
  UNION ALL
  SELECT CAST(n_nationkey AS VARCHAR),
         CAST((n_nationkey * 53 + 11) % (SELECT m FROM mx) + 1 AS VARCHAR)
  FROM nation
  UNION ALL
  SELECT CAST(n_nationkey AS VARCHAR), CAST(n_nationkey + 9000000 AS VARCHAR)
  FROM nation
)
SELECT source, target,
       NOT EXISTS (
         SELECT 1 FROM customer c WHERE CAST(c.c_custkey AS VARCHAR) = tgt.target
       ) AS unmatched
FROM tgt ORDER BY source, target
"""


# DEDUP — the full near-dup pipeline end-to-end: MinHash+LSH pair
# finding -> connected-components closure -> keep the min-id member per
# cluster. Oracle: on the planted-exact-duplicate corpus the clusters
# are exactly the normalized-fingerprint groups, so "kept" = min doc_id
# per fingerprint
def q_dedup_near_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.components import dedupe_by_components
    from neontology_spark.dedup import minhash_lsh_pairs

    corpus = _lsh_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, threshold=1.0)
    return dedupe_by_components(corpus, pairs).select("doc_id").orderBy("doc_id")


O_NEAR_PIPELINE = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' a' || doc_id || ' b' || doc_id || ' c' || doc_id
              || ' d' || doc_id || ' e' || doc_id || ' f' || doc_id
              || ' g' || doc_id || ' h' || doc_id AS text
  FROM documents WHERE doc_id < 200
),
unioned AS (
  SELECT doc_id, text FROM aug
  UNION ALL
  SELECT doc_id + 100000, text FROM aug WHERE doc_id % 20 = 0
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
  FROM unioned
)
SELECT doc_id FROM fp f
WHERE doc_id = (SELECT min(doc_id) FROM fp g WHERE g.f = f.f)
ORDER BY doc_id
"""


# DEDUP — connected components over near-dup pairs (transitive closure:
# a~b, b~c => one cluster) via hash-min label propagation; the oracle is
# the full recursive reachability closure in SQL
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.components import connected_components

    ev = _t(spark, sf_dir, "events")
    # deterministic pair set: each user links to its residue hub (star
    # clusters; hubs outside the user-id domain)
    edges = ev.select(
        F.col("user_id").cast("long").alias("id_a"),
        (F.lit(1_000_000) + F.col("user_id") % 97).cast("long").alias("id_b"),
    ).dropDuplicates()
    comp = connected_components(edges)
    return comp.select("node", "comp").orderBy("node")


O_COMPONENTS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS a,
         CAST(1000000 + user_id % 97 AS BIGINT) AS b
  FROM events
), sym AS (
  SELECT a, b FROM e UNION SELECT b, a FROM e
), nodes AS (
  SELECT DISTINCT a AS id FROM sym
), reach AS (
  SELECT id AS start, id AS node FROM nodes
  UNION
  SELECT r.start, s.b AS node FROM reach r JOIN sym s ON s.a = r.node
)
SELECT start AS node, min(node) AS comp FROM reach
GROUP BY start ORDER BY start
"""


# SAMPLING — deterministic content-keyed stratified sample: md5(key)
# compared to a per-stratum hex threshold; identical predicate in any
# engine with md5, which is exactly what the oracle exercises
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.sampling import deterministic_sample

    cust = _t(spark, sf_dir, "customer")
    out = deterministic_sample(
        cust,
        "c_custkey",
        stratify_col="c_mktsegment",
        fractions={"BUILDING": 0.5, "MACHINERY": 0.05},
        default_fraction=0.01,
    )
    return out.select("c_custkey", "c_mktsegment").orderBy("c_custkey")


# thresholds = hex(floor(fraction * 16^8)), 8 digits (sampling._threshold)
O_STRATIFIED = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE md5(CAST(c_custkey AS VARCHAR)) <
  CASE c_mktsegment
    WHEN 'BUILDING' THEN '80000000'
    WHEN 'MACHINERY' THEN '0ccccccc'
    ELSE '028f5c28'
  END
ORDER BY c_custkey
"""


# F4 — match_relationships: edge table hydrated with BOTH endpoint tables
# (source_/target_ prefixes, graphengine.py:403-448), keyset-paged with the
# tie-break third key (parallel edges per endpoint pair share (source,
# target); okey disambiguates — ADVICE r3). Oracle = plain two-join SQL
# with the same composite seek predicate.
def q_f4_match_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    from neontology_spark.models import NodeModel, Property, RelationshipModel
    from neontology_spark.nodes import match_relationships

    orders = _t(spark, sf_dir, "orders")
    edges = orders.select(
        F.col("o_custkey").alias("source"),
        F.pmod(F.col("o_custkey"), F.lit(25)).alias("target"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
    )
    cust_model = NodeModel(
        label="CustomerF4",
        primary_property="c_custkey",
        properties=[Property("c_custkey", int), Property("c_name", str)],
    )
    nation_model = NodeModel(
        label="NationF4",
        primary_property="n_nationkey",
        properties=[Property("n_nationkey", int), Property("n_name", str)],
    )
    rmodel = RelationshipModel(
        rel_type="ORDERED_F4",
        source_label="CustomerF4",
        target_label="NationF4",
        properties=[Property("okey", int), Property("price", float)],
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    page = match_relationships(
        edges,
        rmodel,
        cust,
        nation,
        cust_model,
        nation_model,
        limit=25,
        after=(3, 3, 0),
        tie_break="okey",
    )
    return page.select(
        "source",
        "target",
        "okey",
        F.round("price", 2).alias("price"),
        "source_c_name",
        "target_n_name",
    ).orderBy("source", "target", "okey")


O_F4 = """
WITH edges AS (
  SELECT o_custkey AS source, o_custkey % 25 AS target,
         o_orderkey AS okey, o_totalprice AS price
  FROM orders
)
SELECT e.source, e.target, e.okey, round(e.price, 2) AS price,
       c.c_name AS source_c_name, n.n_name AS target_n_name
FROM edges e
JOIN customer c ON e.source = c.c_custkey
JOIN nation n ON e.target = n.n_nationkey
WHERE (e.source > 3)
   OR (e.source = 3 AND e.target > 3)
   OR (e.source = 3 AND e.target = 3 AND e.okey > 0)
ORDER BY e.source, e.target, e.okey
LIMIT 25
"""


def _shipped(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    wrapper.__name__ = fn.__name__
    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "f1_match_pp": _shipped(q_f1_match_pp),
        "f2_filter_strings": _shipped(q_f2_filter_strings),
        "f2_filter_numeric": _shipped(q_f2_filter_numeric),
        "f3_match_nodes_paged": _shipped(q_f3_match_nodes_paged),
        "a1_count_filtered": _shipped(q_a1_count_filtered),
        "a3_related_count": _shipped(q_a3_related_count),
        "a4_collect_distinct": _shipped(q_a4_collect_distinct),
        "a5_dedup_fingerprint": _shipped(q_a5_dedup_fingerprint),
        "j2_ri_unmatched": _shipped(q_j2_ri_unmatched),
        "j2_ri_ambiguous": _shipped(q_j2_ri_ambiguous),
        "j5_get_related": _shipped(q_j5_get_related),
        "unique_violations": _shipped(q_unique_violations),
        "a6_column_stats": _shipped(q_a6_column_stats),
        "drift_histogram": _shipped(q_drift_histogram),
        "drift_psi_ks": _shipped(q_drift_psi_ks),
        "drift_categorical": _shipped(q_drift_categorical),
        "merge_upsert": _shipped(q_merge_upsert),
        "s4_merge_relationships": _shipped(q_s4_merge_relationships),
        "j5_traverse_depth": _shipped(q_j5_traverse_depth),
        "f2_filter_datetime": _shipped(q_f2_filter_datetime),
        "f2_filter_temporal": _shipped(q_f2_filter_temporal),
        "s1_create_append": _shipped(q_s1_create_append),
        "s3_detach_delete": _shipped(q_s3_detach_delete),
        "text_profile": _shipped(q_text_profile),
        "text_langid_quality": _shipped(q_text_langid_quality),
        "dedup_exact": _shipped(q_dedup_exact),
        "jaccard_pairs": _shipped(q_jaccard_pairs),
        "sim_topk": _shipped(q_sim_topk),
        "ivf_ann": _shipped(q_ivf_ann),
        "embedding_near_dup": _shipped(q_embedding_near_dup),
        "minhash_lsh": _shipped(q_minhash_lsh),
        "simhash_pairs": _shipped(q_simhash_pairs),
        "f3_match_nodes_keyset": _shipped(q_f3_match_nodes_keyset),
        "j5_traverse_paths": _shipped(q_j5_traverse_paths),
        "label_conformance": _shipped(q_label_conformance),
        "s6_import_records": _shipped(q_s6_import_records),
        "dedup_components": _shipped(q_dedup_components),
        "stratified_sample": _shipped(q_stratified_sample),
        "dedup_near_pipeline": _shipped(q_dedup_near_pipeline),
        "text_quality_filter": _shipped(q_text_quality_filter),
        "f4_match_relationships": _shipped(q_f4_match_relationships),
        "dedup_paragraphs": _shipped(q_dedup_paragraphs),
        "ivf_ann_indexed": _shipped(q_ivf_ann_indexed),
        "ivf_ann_two_level": _shipped(q_ivf_ann_two_level),
        "dedup_incremental": _shipped(q_dedup_incremental),
        "text_top_tokens": _shipped(q_text_top_tokens),
        "text_decontaminate": _shipped(q_text_decontaminate),
        "sessionize": _shipped(q_sessionize),
        "event_windows": _shipped(q_event_windows),
        "column_quantiles": _shipped(q_column_quantiles),
        "quantile_drift": _shipped(q_quantile_drift),
        "text_pii_redact": _shipped(q_text_pii_redact),
        "text_repetition": _shipped(q_text_repetition),
        "run_query_escape": _shipped(q_run_query_escape),
        "run_query_rel_hydration": _shipped(q_run_query_rel_hydration),
        "multimodal_audio": _shipped(q_multimodal_audio),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "f1_match_pp": O_F1,
        "f2_filter_strings": O_F2_STR,
        "f2_filter_numeric": O_F2_NUM,
        "f3_match_nodes_paged": O_F3,
        "a1_count_filtered": O_A1,
        "a3_related_count": O_A3,
        "a4_collect_distinct": O_A4,
        "a5_dedup_fingerprint": O_A5,
        "j2_ri_unmatched": O_J2,
        "j2_ri_ambiguous": O_J2B,
        "j5_get_related": O_J5,
        "unique_violations": O_UNIQUE,
        "a6_column_stats": O_A6,
        "drift_histogram": O_DRIFT_HIST,
        "drift_psi_ks": O_DRIFT_PSI,
        "drift_categorical": O_DRIFT_CAT,
        "merge_upsert": O_MERGE,
        "s4_merge_relationships": O_S4,
        "j5_traverse_depth": O_J5_DEPTH,
        "f2_filter_datetime": O_F2_DT,
        "f2_filter_temporal": O_F2_TEMPORAL,
        "s1_create_append": O_S1,
        "s3_detach_delete": O_S3,
        "text_profile": O_TEXT_PROFILE,
        "text_langid_quality": O_TEXT_LANG,
        "dedup_exact": O_DEDUP_EXACT,
        "jaccard_pairs": O_JACCARD,
        "sim_topk": O_SIM_TOPK,
        "ivf_ann": O_IVF,
        "embedding_near_dup": O_EMB_NEAR_DUP,
        "minhash_lsh": O_MINHASH,
        "simhash_pairs": O_SIMHASH,
        "f3_match_nodes_keyset": O_F3K,
        "j5_traverse_paths": O_J5_PATHS,
        "label_conformance": O_LABELS,
        "s6_import_records": O_S6,
        "dedup_components": O_COMPONENTS,
        "stratified_sample": O_STRATIFIED,
        "dedup_near_pipeline": O_NEAR_PIPELINE,
        "text_quality_filter": O_TEXT_FILTER,
        "f4_match_relationships": O_F4,
        "dedup_paragraphs": O_DEDUP_PARAS,
        "ivf_ann_indexed": O_IVF_INDEXED,
        "ivf_ann_two_level": O_IVF_TWO_LEVEL,
        "dedup_incremental": O_DEDUP_INCR,
        "text_top_tokens": O_TOP_TOKENS,
        "text_decontaminate": O_DECONTAM,
        "sessionize": O_SESSIONIZE,
        "event_windows": O_EVENT_WINDOWS,
        "column_quantiles": O_QUANTILES,
        "quantile_drift": O_QUANTILE_DRIFT,
        "text_pii_redact": O_PII,
        "text_repetition": O_REPETITION,
        "run_query_escape": O_RUN_QUERY,
        "run_query_rel_hydration": O_RUN_QUERY_REL,
        "multimodal_audio": O_MULTIMODAL_AUDIO,
    }
