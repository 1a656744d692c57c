"""Gate parity for connected_components: the driver union-find (at most
``_LOCAL_MAX_EDGES`` edges) and the distributed hash-min loop must give
the same schema and rows on every input, NULL ids included."""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from neontology_spark import components

LOCAL, LOOP = 1 << 20, -1  # caps that force each side
_UNION_FIND = components._local_components

MIXED = (
    [(i, i + 1) for i in range(10, 20)]  # chain
    + [(a, b) for a in range(30, 35) for b in range(a + 1, 35)]  # clique
    + [(50, x) for x in range(51, 58)]  # star
    + [(70, 71)]  # pair
    + [(80, 82), (82, 84), (84, 80), (84, 86)]  # cycle + tail
)
CHAIN_AND_PAIRS = [(1, 5), (5, 9), (20, 21), (30, 31), (31, 32), (32, 33)]
REVERSED_CHAIN = [(i, i + 1) for i in range(11, 0, -1)]  # 12-node path


def _random_graph(seed, n=120, m=150):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return [(a, b) for a, b in edges if a != b]


NULL_PAIRS = [(1, None), (None, 7), (2, 3), (4, 4), (5, 6), (6, 5), (None, None)]
NULL_LABELS = {(1, 1), (7, 7), (2, 2), (3, 2), (4, 4), (5, 5), (6, 5)}

CASES = {
    "mixed": (MIXED, "id_a long, id_b long"),
    "chain_and_pairs": (CHAIN_AND_PAIRS, "id_a long, id_b long"),
    "reversed_chain": (REVERSED_CHAIN, "id_a long, id_b long"),
    **{
        f"random_{seed}": (_random_graph(seed), "id_a long, id_b long")
        for seed in (7, 11, 13)
    },
    "loops_dups_reversed": (
        [(1, 1), (1, 2), (1, 2), (2, 1), (3, 3), (5, 4), (4, 5), (5, 5), (9, 8)],
        "id_a long, id_b long",
    ),
    "null_ids": (NULL_PAIRS, "id_a long, id_b long"),
    # U+FFFF < U+1F600 by code point and by UTF-8 bytes (not by UTF-16)
    "string_ids": (
        [("b", "a"), ("c", "b"), ("x", "é"),
         ("\U0001f600", "\uffff"), ("\U0001f601", "\U0001f600")],
        "id_a string, id_b string",
    ),
    "int_ids": ([(2_000_000_000, 7), (7, -3), (40, 41)], "id_a int, id_b int"),
    "empty": ([], "id_a long, id_b long"),
    # the columns' common type (bigint here) is the id type on both sides
    "mixed_types": ([(10, "9"), (9, "4"), (2, "3")], "id_a int, id_b string"),
}
EXPECTED = {
    "chain_and_pairs": {
        (1, 1), (5, 1), (9, 1), (20, 20), (21, 20),
        (30, 30), (31, 30), (32, 30), (33, 30),
    },
    "reversed_chain": {(i, 1) for i in range(1, 13)},
    "null_ids": NULL_LABELS,
    "int_ids": {(2_000_000_000, -3), (7, -3), (-3, -3), (40, 40), (41, 40)},
    "empty": set(),
    "mixed_types": {(4, 4), (9, 4), (10, 4), (2, 2), (3, 2)},
}


def _components(monkeypatch, cap, pairs, **kw):
    """(took the local side?, labels frame) with the gate forced by ``cap``."""
    calls = []
    monkeypatch.setattr(
        components, "_local_components", lambda *a: calls.append(1) or _UNION_FIND(*a)
    )
    monkeypatch.setattr(components, "_LOCAL_MAX_EDGES", cap)
    out = components.connected_components(pairs, **kw)
    return bool(calls), out


def _labels(frame):
    return sorted(tuple(r) for r in frame.collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_gate_sides_agree(spark, monkeypatch, case):
    pairs = spark.createDataFrame(*CASES[case])
    took_local, local = _components(monkeypatch, LOCAL, pairs)
    took_loop, loop = _components(monkeypatch, LOOP, pairs)
    assert (took_local, took_loop) == (True, False)
    assert local.schema == loop.schema
    got = _labels(local)
    assert got == _labels(loop)
    if case in EXPECTED:
        assert set(got) == EXPECTED[case]
    if case == "int_ids":
        assert local.schema["node"].dataType == IntegerType()
    if case == "mixed_types":
        assert local.schema["node"].dataType == LongType()
    if case == "string_ids":
        assert dict(got)["\U0001f600"] == "\uffff" and dict(got)["é"] == "x"


def test_null_ids_never_nodes_without_rounds(spark, monkeypatch):
    """max_iter=0 on the loop is the identity labelling — still over the
    non-NULL ids only; below the cap the result stays exact."""
    pairs = spark.createDataFrame(*CASES["null_ids"])
    with pytest.warns(RuntimeWarning, match="fixpoint not reached"):
        _, loop = _components(monkeypatch, LOOP, pairs, max_iter=0)
    assert set(_labels(loop)) == {(n, n) for n, _ in NULL_LABELS}
    took_local, local = _components(monkeypatch, LOCAL, pairs, max_iter=0)
    assert took_local and set(_labels(local)) == NULL_LABELS


def test_double_ids_take_the_loop(spark, monkeypatch):
    """NaN breaks Python's ``<``: floating-point ids never reach the
    driver union-find, whatever the cap."""
    pairs = spark.createDataFrame(
        [(1.5, 2.5), (2.5, 0.5), (9.0, 8.0)], "id_a double, id_b double"
    )
    took_local, out = _components(monkeypatch, LOCAL, pairs)
    assert not took_local
    assert _labels(out) == [(0.5, 0.5), (1.5, 0.5), (2.5, 0.5), (8.0, 8.0), (9.0, 8.0)]


def test_gate_counts_edges(spark, monkeypatch):
    """Exactly cap edges stay on the driver; one more falls through."""
    pairs = spark.range(8).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    for cap, local in ((8, True), (7, False)):
        took_local, out = _components(monkeypatch, cap, pairs)
        assert took_local == local
        assert set(_labels(out)) == {(i, 0) for i in range(9)}


def test_loop_reads_the_gate_scan(spark, monkeypatch):
    """Above the cap the loop reuses the gate's cached edges: the pair
    finder upstream of ``pairs`` is evaluated once per edge, not re-run."""
    calls = spark.sparkContext.accumulator(0)
    finder = F.udf(lambda x: calls.add(1) or x, "long").asNondeterministic()
    pairs = (
        spark.range(40, numPartitions=4)
        .repartition(3, "id")
        .select(finder("id").alias("id_a"))
        .select("id_a", (F.col("id_a") % 10).alias("id_b"))
    )
    took_local, out = _components(monkeypatch, 5, pairs)
    assert not took_local
    assert out.select("comp").distinct().count() == 10
    assert calls.value == 40
