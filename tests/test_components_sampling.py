"""Connected-components dedup closure + deterministic sampling tests."""

import warnings

import pytest
from pyspark.sql import functions as F

from neontology_spark import components
from neontology_spark.components import connected_components, dedupe_by_components
from neontology_spark.sampling import deterministic_sample


def test_components_chain_and_singleton_pair(spark):
    """A 3-chain (a-b, b-c) is ONE component labeled by its min id —
    the case exact-group dedup gets wrong. Below the edge cap this is the
    driver union-find; tests/test_components_gate.py runs the same graph
    through the distributed loop (where convergence needs >1 round)."""
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21), (30, 31), (31, 32), (32, 33)],
        "id_a long, id_b long",
    )
    comp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comp == {
        1: 1, 5: 1, 9: 1,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30,
    }


def test_components_deep_chain_converges(spark):
    """A 12-node path given tail-first closes to one component. Below
    the edge cap this is the driver union-find; the loop's many-round
    run of the same path is a case in tests/test_components_gate.py."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11, 0, -1)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    assert comp.select("comp").distinct().count() == 1
    assert comp.agg(F.min("comp")).first()[0] == 1


def test_dedupe_by_components(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 5, 9, 20, 21, 40)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"] for r in dedupe_by_components(docs, pairs).collect()
    )
    # one per cluster (min id) + untouched singleton 40
    assert kept == [1, 20, 40]


def test_deterministic_sample_flat(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = cust.count()
    s1 = deterministic_sample(cust, "c_custkey", 0.25)
    s2 = deterministic_sample(cust, "c_custkey", 0.25)
    k1 = {r["c_custkey"] for r in s1.select("c_custkey").collect()}
    k2 = {r["c_custkey"] for r in s2.select("c_custkey").collect()}
    assert k1 == k2  # content-keyed: identical across runs
    assert 0.15 * n < len(k1) < 0.35 * n  # ~25% (md5-uniform)
    # monotone containment: a larger fraction is a superset
    k_half = {
        r["c_custkey"]
        for r in deterministic_sample(cust, "c_custkey", 0.5)
        .select("c_custkey")
        .collect()
    }
    assert k1 <= k_half


def test_deterministic_sample_stratified(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = deterministic_sample(
        cust,
        "c_custkey",
        stratify_col="c_mktsegment",
        fractions={"BUILDING": 0.5, "MACHINERY": 0.05},
        default_fraction=0.0,
    )
    got = out.groupBy("c_mktsegment").count().collect()
    by = {r["c_mktsegment"]: r["count"] for r in got}
    assert set(by) <= {"BUILDING", "MACHINERY"}  # others sampled at 0
    totals = {
        r["c_mktsegment"]: r["count"]
        for r in cust.groupBy("c_mktsegment").count().collect()
    }
    assert 0.3 < by["BUILDING"] / totals["BUILDING"] < 0.7
    assert by.get("MACHINERY", 0) / totals["MACHINERY"] < 0.15
    # stratum membership never changes WHICH rows of a stratum are picked:
    # flat 0.5 sample restricted to BUILDING == stratified BUILDING rows
    flat = deterministic_sample(cust, "c_custkey", 0.5).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    assert {r["c_custkey"] for r in flat.select("c_custkey").collect()} == {
        r["c_custkey"]
        for r in out.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .collect()
    }


def test_sample_fraction_validation(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    with pytest.raises(ValueError):
        deterministic_sample(cust, "c_custkey", 1.5)
    with pytest.raises(ValueError):
        deterministic_sample(cust, "c_custkey")
    with pytest.raises(ValueError):
        deterministic_sample(cust, "c_custkey", fractions={"A": 0.1})


def test_components_empty_pairs(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0
    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    assert dedupe_by_components(docs, empty).count() == 1


def test_sample_null_keys_never_sampled(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",)], "k string"
    )
    out = deterministic_sample(df, "k", 1.0 - 1e-9)  # ~everything
    keys = {r["k"] for r in out.collect()}
    assert None not in keys and keys <= {"a", "b"}


def _long_chain_components(spark, cap, monkeypatch):
    """A 10k-node path graph, closed with the size gate set to ``cap``;
    the (components, nodes, max label) triple of the result."""
    monkeypatch.setattr(components, "_LOCAL_MAX_EDGES", cap)
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # truncation fails
        comp = connected_components(pairs, max_iter=18)
    agg = comp.agg(
        F.countDistinct("comp").alias("ncomp"),
        F.count("*").alias("nodes"),
        F.max("comp").alias("maxc"),
    ).first()
    return agg["ncomp"], agg["nodes"], agg["maxc"]


def test_components_long_chain_stress_log_rounds(spark, monkeypatch):
    """VERDICT r3 #7: a 10k-node path graph on the distributed loop
    (the gate is forced shut). Plain hash-min needs O(diameter)=10^4
    rounds; with the pointer-doubling shortcut the fixpoint must arrive
    in <= 18 rounds (~log2 growth per round) — the truncation warning is
    turned into an error, so passing IS the round-count assertion."""
    assert _long_chain_components(spark, -1, monkeypatch) == (1, 10_000, 0)


def test_components_long_chain_driver_side(spark, monkeypatch):
    """The same 10k-node path below the edge cap: driver union-find."""
    assert _long_chain_components(spark, 1 << 16, monkeypatch) == (1, 10_000, 0)


def test_components_truncation_warns_and_raises(spark, monkeypatch):
    """ADVICE r3: exiting via max_iter without the fixpoint must not be
    silent — the labels may split components. The RuntimeWarning becomes
    an error under the "error" filter, which the round-bound tests rely
    on. Truncation exists only on the distributed loop, so the gate is
    forced shut."""
    monkeypatch.setattr(components, "_LOCAL_MAX_EDGES", -1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="fixpoint not reached"):
        connected_components(pairs, max_iter=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        with pytest.raises(RuntimeWarning, match="fixpoint not reached"):
            connected_components(pairs, max_iter=1)
