"""Golden parity for the similarity vector math.

``tests/fixtures/similarity_golden.json`` holds what the Spark-expression
forms (``aggregate(zip_with(...))`` folds, now deleted) produced on a
seeded 64-dim corpus plus one dirty batch: sign-bit signatures at 16 and
64 planes, vector norms, flat and two-level cell assignments, and the
query-side probe sets. The numpy kernels that replaced them must
reproduce every value, on float64 and float32 columns, with the dirty
rows (NULL vector, NULL element, NaN, ±inf, 1e308 overflow) in the same
Arrow batch as the clean ones. ``fixtures/make_similarity_golden.py``
regenerates the file from a checkout that still has the expressions.
"""

import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import Row

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "similarity_golden.json")
N, DIM = 600, 64
QUERY_IDS = list(range(0, N, 15))
FLAT_PROBE, PROBE_COARSE, PROBE_FINE = 3, 2, 3


def golden_inputs():
    """(ids, vectors) — 600 clustered 64-dim float64 rows from the frozen
    ``RandomState(7)`` stream, then 8 dirty rows (ids 10_000+) derived
    from the first clean rows. ``None`` marks a NULL vector or element."""
    rs = np.random.RandomState(7)
    centers = rs.standard_normal((8, DIM))
    X = centers[np.arange(N) % 8] + 0.5 * rs.standard_normal((N, DIM))
    vecs = [[float(x) for x in row] for row in X]
    inf = float("inf")

    def dirty(i, **at):
        v = list(vecs[i])
        for d, x in at.items():
            v[int(d[1:])] = x
        return v

    vecs += [
        None,                                   # NULL vector
        dirty(1, d5=None),                      # NULL element
        dirty(2, d3=float("nan")),              # NaN
        dirty(3, d0=inf),                       # +inf
        dirty(4, d7=-inf),                      # -inf
        dirty(5, d0=inf, d1=-inf),              # inf - inf = NaN dots
        dirty(6, d0=1e308, d1=1e308, d2=1e308),  # sum of squares overflows
        dirty(7, d0=-1e308, d9=1e308),
    ]
    ids = list(range(N)) + [10_000 + i for i in range(8)]
    return ids, vecs


def golden_frame(spark, dtype="double"):
    """The golden rows as ONE partition (one Arrow batch: dirty rows sit
    beside clean ones), embedding typed array<``dtype``>."""
    ids, vecs = golden_inputs()
    df = spark.createDataFrame(
        [(i, v) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    if dtype != "double":
        df = df.selectExpr("vec_id", f"cast(embedding as array<{dtype}>) as embedding")
    return df


def golden_quantizers():
    """(flat 8 x 64, coarse 4 x 64, fines per coarse cell) — fixed rows of
    the clean corpus. Coarse cell 3 has no fine row, which exercises the
    left-join miss (fine_id 0)."""
    _, vecs = golden_inputs()
    flat = vecs[0:8]
    coarse = vecs[8:12]
    fines = [vecs[16 + 3 * c: 19 + 3 * c] for c in range(3)] + [None]
    return flat, coarse, fines


@pytest.fixture(scope="module")
def golden():
    with open(FIXTURE) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def index(spark):
    from neontology_spark.similarity import TwoLevelIVF

    _, coarse, fines = golden_quantizers()
    fine_df = spark.createDataFrame(
        [(c, f) for c, f in enumerate(fines) if f is not None],
        "coarse_id int, fines array<array<double>>",
    )
    return TwoLevelIVF(coarse, fine_df)


def _bits(sig):
    if sig is None:
        return None
    return format(int("".join(str(b) for b in sig), 2), f"0{len(sig) // 4}x")


def _same(a, b):
    """Bitwise float equality (NaN == NaN; None only equals None)."""
    if a is None or b is None:
        return a is b
    return (math.isnan(a) and math.isnan(b)) or a == b


@pytest.mark.parametrize("dtype", ["double", "float"])
def test_signature_and_norm_match_golden(spark, golden, dtype):
    from neontology_spark.similarity import with_hyperplane_signature

    want = golden[dtype]
    df = golden_frame(spark, dtype)
    for planes in (16, 64):
        got = with_hyperplane_signature(
            df, "embedding", "sig", planes, DIM, norm_col="_n"
        ).collect()
        assert len(got) == len(want[f"sig{planes}"])
        for r in got:
            assert _bits(r["sig"]) == want[f"sig{planes}"][str(r["vec_id"])], (
                planes, r["vec_id"]
            )
            assert _same(r["_n"], want["norm"][str(r["vec_id"])]), r["vec_id"]
    # the public form without a norm column keeps the input columns + sig
    plain = with_hyperplane_signature(df, dim=DIM)
    assert plain.columns == ["vec_id", "embedding", "sig"]


@pytest.mark.parametrize("dtype", ["double", "float"])
def test_cell_assignment_matches_golden(spark, golden, index, dtype):
    from neontology_spark.similarity import _assign_arrow, assign_two_level

    want = golden[dtype]
    flat, _, _ = golden_quantizers()
    df = golden_frame(spark, dtype)
    got = {
        str(r["vec_id"]): r["cluster"]
        for r in _assign_arrow(df, flat, "vec_id", "embedding").collect()
    }
    assert got == want["flat_cell"]
    got2 = {
        str(r["vec_id"]): [r["coarse_id"], r["fine_id"]]
        for r in assign_two_level(df, index).collect()
    }
    assert got2 == want["two_level_cell"]


@pytest.mark.parametrize("dtype", ["double", "float"])
def test_query_side_matches_golden(spark, golden, index, dtype):
    """Driver-side probe ranking reproduces the expression-form probe sets
    (flat: dot desc, cell asc; two-level: fdot desc, coarse asc, fine
    asc) and the query norms."""
    from pyspark.sql import functions as F

    from neontology_spark.similarity import (
        _flat_probes,
        _query_side,
        _two_level_probes,
    )

    want = golden[dtype]
    flat, _, _ = golden_quantizers()
    queries = golden_frame(spark, dtype).filter(F.col("vec_id").isin(QUERY_IDS))
    qs = _query_side(queries, "vec_id", "embedding")
    assert sorted(qs[0].tolist()) == QUERY_IDS
    for qid, qn in zip(qs[0].tolist(), qs[2].tolist()):
        assert _same(qn, want["norm"][str(qid)])

    def by_query(probes):
        out: dict = {}
        for key, (qids, _, _) in probes.items():
            for q in qids.tolist():
                out.setdefault(str(q), []).append(list(key))
        return {q: sorted(v) for q, v in out.items()}

    exp_flat = {q: sorted([c] for c in cs) for q, cs in want["flat_probes"].items()}
    assert by_query(_flat_probes(qs, flat, FLAT_PROBE)) == exp_flat
    exp_two = {q: sorted(ps) for q, ps in want["two_level_probes"].items()}
    got_two = by_query(_two_level_probes(qs, index, PROBE_COARSE, PROBE_FINE))
    assert got_two == exp_two


def test_signature_kernel_wrong_length_fails_fast(spark):
    """A vector whose length differs from ``dim`` raises (naming the
    operation), instead of collapsing every row into one LSH bucket."""
    from neontology_spark.similarity import with_hyperplane_signature

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
         Row(vec_id=2, embedding=[1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="hyperplane_signature"):
        with_hyperplane_signature(df, dim=4).collect()
