"""Referential-integrity check (``checks.check_referential``): unmatched
and ambiguous edge endpoints, NULL endpoint keys, a hot key, and the
``error_on_unmatched`` escalation."""

import pytest

from neontology_spark.checks import UnmatchedError, check_referential
from neontology_spark.models import RelationshipModel

HOT_EDGES = 40


@pytest.fixture(scope="module")
def model():
    return RelationshipModel(rel_type="LINKS_TO", source_label="Doc", target_label="Doc")


@pytest.fixture(scope="module")
def nodes(spark):
    # "hot" is a node key twice: every edge onto it is ambiguous
    return spark.createDataFrame(
        [("a",), ("hot",), ("hot",), ("c",)], "id string"
    )


def test_unmatched_ambiguous_and_null_keys(spark, nodes, model):
    edges = spark.createDataFrame(
        [(0, "s0", "a"), (0, "s1", "c"), (1, "s2", "x"), (1, "s3", None)]
        + [(2, f"h{i}", "hot") for i in range(HOT_EDGES)],
        "part long, source string, target string",
    )
    res = check_referential(edges, nodes, model, node_key="id", part_col="part")
    assert (res.check, res.label) == ("referential__target", "LINKS_TO")
    rows = res.violations.collect()
    assert all(r["check"] == "referential__target" and r["column"] == "target" for r in rows)

    unmatched = [(r["part"], r["key"], r["detail"]) for r in rows if r["detail"].startswith("No ")]
    assert len(unmatched) == 2
    assert set(unmatched) == {
        (1, None, "No target node found matching id=NULL"),
        (1, "x", "No target node found matching id=x"),
    }

    ambiguous = [r for r in rows if not r["detail"].startswith("No ")]
    assert len(ambiguous) == HOT_EDGES
    assert {(r["part"], r["key"], r["detail"]) for r in ambiguous} == {
        (2, "hot", "Matched 2 target nodes on id - ambiguous")
    }


def test_error_on_unmatched(spark, nodes, model):
    edges = spark.createDataFrame(
        [(0, "s0", "a"), (0, "s1", None)], "part long, source string, target string"
    )
    with pytest.raises(UnmatchedError) as err:
        check_referential(edges, nodes, model, node_key="id", error_on_unmatched=True)
    assert "matching id=NULL" in str(err.value)
    assert "None" not in str(err.value)

    clean = edges.filter("target IS NOT NULL")
    res = check_referential(clean, nodes, model, node_key="id", error_on_unmatched=True)
    assert res.violations.count() == 0


def test_error_on_unmatched_ignores_ambiguous_edges(spark, nodes, model):
    """Edges onto an ambiguous key do not raise, and stay violations; the
    message lists the unmatched rows even when ambiguous ones outnumber
    them."""
    amb_only = spark.createDataFrame(
        [(0, f"h{i}", "hot") for i in range(HOT_EDGES)] + [(0, "s0", "a")],
        "part long, source string, target string",
    )
    res = check_referential(amb_only, nodes, model, node_key="id", error_on_unmatched=True)
    assert res.violations.count() == HOT_EDGES

    mixed = amb_only.unionByName(
        spark.createDataFrame([(1, "s9", "x")], "part long, source string, target string")
    )
    with pytest.raises(UnmatchedError) as err:
        check_referential(mixed, nodes, model, node_key="id", error_on_unmatched=True)
    assert "matching id=x" in str(err.value)
    assert "ambiguous" not in str(err.value)
