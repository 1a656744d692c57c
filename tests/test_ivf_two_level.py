"""Two-level IVF (VERDICT r4 #2): the flat quantizer's driver/broadcast
state grows as n_cells × dim (~8 GB at n_cells = sqrt(10^12), dim 1024)
and its Lloyd step collects n_cells × dim mean rows. The two-level
quantizer keeps ONLY the k_coarse matrix driver-resident; fine centroids
live in a k_coarse-row DataFrame trained per-cell by one applyInPandas —
no collect whose size depends on the total cell count exists anywhere.

Tests: full-probe equality with the exact brute force, exact-duplicate
recall, determinism, and the residency/plan-size independence proxies."""

import pytest
from pyspark.sql import functions as F


def _clustered_vectors(spark, n=240, dim=6, n_clusters=4):
    """Well-separated clusters: vector i sits near axis (i % n_clusters)
    with a small deterministic wobble."""
    wobble = F.array(
        *[
            (F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(100)).cast("double")
             / 1000.0)
            for j in range(dim)
        ]
    )
    axis = F.array(
        *[
            F.when(F.pmod(F.col("id"), F.lit(n_clusters)) == j % n_clusters, 1.0)
            .otherwise(0.0)
            for j in range(dim)
        ]
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.zip_with(axis, wobble, lambda a, b: a + b).alias("embedding"),
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return _clustered_vectors(spark).localCheckpoint(eager=True)


def test_full_probe_equals_brute_force(spark, corpus):
    """Probing every cell must reproduce the exact result — the ANN is a
    pruning of the same arithmetic, not a different metric."""
    from neontology_spark.similarity import (
        brute_force_topk,
        ivf_topk_two_level,
        train_ivf_two_level,
    )

    queries = corpus.filter(F.col("vec_id") % 60 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    idx = train_ivf_two_level(corpus, k_coarse=4, k_fine=3, iters=2)
    ann = ivf_topk_two_level(
        corpus,
        queries,
        k=3,
        n_probe_coarse=4,
        n_probe_fine=12,
        index=idx,
    )
    exact = brute_force_topk(corpus, queries, k=3)
    assert sorted(map(tuple, ann.collect())) == sorted(map(tuple, exact.collect()))


def test_exact_duplicate_recall_and_determinism(spark, corpus):
    """A query identical to a corpus vector assigns and probes the same
    cell, so its duplicate is always rank 1 with cos ≈ 1; two runs give
    identical output (hash init, first-max ties, sorted means)."""
    from neontology_spark.similarity import ivf_topk_two_level

    queries = corpus.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    kw = dict(k=1, k_coarse=4, k_fine=2, n_probe_coarse=1, n_probe_fine=1)
    r1 = ivf_topk_two_level(corpus, queries, **kw).collect()
    top = {r["query_id"]: (r["vec_id"], r["cos"]) for r in r1}
    for qid, (vid, cos) in top.items():
        assert vid == qid - 10_000
        assert cos == pytest.approx(1.0, abs=1e-6)
    r2 = ivf_topk_two_level(corpus, queries, **kw).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))


def test_driver_residency_independent_of_k_fine(spark, corpus):
    """The residency contract: driver-held state is k_coarse × dim
    regardless of k_fine (the fine level is a DataFrame, one row per
    coarse cell, bounded members), and the assignment plan does not grow
    with k_fine (fine centroids enter via a join, never as literals)."""
    from neontology_spark.similarity import assign_two_level, train_ivf_two_level

    plans = {}
    for kf in (2, 12):
        idx = train_ivf_two_level(corpus, k_coarse=4, k_fine=kf, iters=1)
        # driver-resident state: exactly the coarse matrix
        assert len(idx.coarse) == 4 and len(idx.coarse[0]) == 6
        rows = idx.fine.collect()  # k_coarse rows — tiny by construction
        assert len(rows) <= 4
        assert all(len(r["fines"]) <= kf for r in rows)
        plan = (
            assign_two_level(corpus, idx)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "Join" in plan  # fine level rides a join, not literals
        plans[kf] = len(plan)
    # plan text must not scale with k_fine (literal matrices would 6×)
    assert plans[12] < 1.2 * plans[2]


def test_fine_training_is_distributed(spark, corpus):
    """Every coarse cell's fine row is produced executor-side in one
    applyInPandas pass; cells partition the sampled corpus and each
    corpus row lands in exactly one (coarse, fine) cell."""
    from neontology_spark.similarity import assign_two_level, train_ivf_two_level

    idx = train_ivf_two_level(corpus, k_coarse=4, k_fine=3, iters=2)
    inv = assign_two_level(corpus, idx)
    assert inv.count() == corpus.count()
    assert inv.groupBy("vec_id").count().filter("count > 1").count() == 0
    cells = inv.select("coarse_id", "fine_id").distinct()
    assert cells.count() <= 4 * 3
    # assignment is total: no NULL cell ids
    assert inv.filter(
        F.col("coarse_id").isNull() | F.col("fine_id").isNull()
    ).count() == 0


def test_two_level_indexed_parity_and_pruning(spark, corpus, tmp_path):
    """The persisted (coarse_id, fine_id)-partitioned inverted file must
    (a) return exactly what the in-memory two-level probe returns for
    the same quantizer, and (b) prune unprobed cell directories at the
    scan — PartitionFilters over BOTH partition levels."""
    import os
    import re

    from neontology_spark.similarity import (
        ivf_topk_two_level,
        ivf_topk_two_level_indexed,
        train_ivf_two_level,
        write_ivf_index_two_level,
    )

    idx = train_ivf_two_level(corpus, k_coarse=4, k_fine=3, iters=2)
    path = str(tmp_path / "ivf2")
    write_ivf_index_two_level(corpus, path, idx)
    coarse_dirs = [d for d in os.listdir(path) if d.startswith("coarse_id=")]
    assert len(coarse_dirs) >= 2
    assert any(
        d.startswith("fine_id=")
        for d in os.listdir(os.path.join(path, coarse_dirs[0]))
    )

    queries = corpus.limit(4)
    kw = dict(k=3, n_probe_coarse=2, n_probe_fine=3)
    expected = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk_two_level(corpus, queries, index=idx, **kw).collect()
    }
    out = ivf_topk_two_level_indexed(spark, path, queries, idx, **kw)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out.collect()}
    assert got == expected and len(got) > 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*coarse_id[^\]]*\]", plan)
    assert m, plan
    assert "fine_id" in m.group(0), m.group(0)


def test_query_side_collects_only_probed_fine_rows(spark, corpus, monkeypatch):
    """The two-level query side collects the fine rows of the probed
    coarse cells only — its plan filters coarse_id to exactly those ids
    — instead of broadcasting the whole fine frame."""
    import re

    import numpy as np

    from neontology_spark import similarity as S

    idx = S.train_ivf_two_level(corpus, k_coarse=4, k_fine=2, iters=1)
    seen = []
    fine_rows = S._fine_rows

    def spy(fine, coarse_ids):
        df = fine_rows(fine, coarse_ids)
        seen.append((list(coarse_ids), df))
        return df

    monkeypatch.setattr(S, "_fine_rows", spy)
    # queries near two of the four cluster axes, one coarse probe each
    queries = corpus.filter(F.col("vec_id").isin(0, 4, 8, 1, 5, 9))
    qs = S._query_side(queries, "vec_id", "embedding")
    probes = S._two_level_probes(qs, idx, 1, 2)

    C = np.asarray(idx.coarse)
    want = sorted({int(S._ranked(d)[0]) for d in S._dots(qs[1][:, None], C[None])})
    assert len(seen) == 1 and seen[0][0] == want and len(want) < 4
    plan = seen[0][1]._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"coarse_id#\d+ (?:IN \(([^)]*)\)|= (\d+))", plan)
    assert m, plan
    assert sorted(int(x) for x in (m.group(1) or m.group(2)).split(",")) == want
    assert {c for c, _ in probes} <= set(want)
