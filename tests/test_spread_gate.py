"""The one repartition-to-cores gate, ``similarity._spread``: it spreads a
few-split input over the session's cores ahead of the centroid-assignment
kernels and ``lsh_topk``, and only there. Both sides of its size gate and its
unknown-estimate probe are pinned here, together with a plan check that
the other text and vector operators read their input's own partitions."""

import pytest

from neontology_spark import dedup, similarity


def _formatted(df):
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def one_split(spark, sf_dir, tmp_path_factory):
    """(docs, vecs): the documents and embeddings tables rewritten as one
    single-row-group parquet file each, so each scan is one split."""
    root = tmp_path_factory.mktemp("one_split")
    out = []
    for name in ("documents", "embeddings"):
        path = str(root / name)
        spark.read.parquet(f"{sf_dir}/{name}.parquet").coalesce(1).write.parquet(path)
        out.append(spark.read.parquet(path))
    return tuple(out)


@pytest.fixture()
def rdd_probes(spark, monkeypatch):
    """A list that grows by one for each ``DataFrame.rdd`` access."""
    calls = []
    cls = type(spark.range(0))
    rdd = cls.rdd
    monkeypatch.setattr(
        cls, "rdd", property(lambda self: calls.append(1) or rdd.__get__(self, cls))
    )
    return calls


def test_spread_one_split_corpus_to_default_parallelism(spark, one_split, rdd_probes):
    vecs = one_split[1]
    assert vecs.rdd.getNumPartitions() == 1
    rdd_probes.clear()
    out = similarity._spread(vecs)
    assert rdd_probes == []  # the estimate is known: no physical probe
    assert "RoundRobinPartitioning" in _formatted(out)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_leaves_large_estimate_alone(one_split, monkeypatch, rdd_probes):
    vecs = one_split[1]
    monkeypatch.setattr(similarity, "estimated_bytes", lambda df: 5 << 30)
    assert similarity._spread(vecs) is vecs
    assert rdd_probes == []


def test_spread_unknown_estimate_probes_partitions(spark, one_split, monkeypatch, rdd_probes):
    monkeypatch.setattr(similarity, "estimated_bytes", lambda df: None)
    vecs = one_split[1]
    out = similarity._spread(vecs)
    assert rdd_probes == [1]
    assert "RoundRobinPartitioning" in _formatted(out)

    n = spark.sparkContext.defaultParallelism
    wide = vecs.repartition(n)
    rdd_probes.clear()
    assert similarity._spread(wide) is wide
    assert rdd_probes == [1]


def _ivf_indexed(spark, docs, vecs, tmp_path):
    cents = similarity.train_ivf_centroids(vecs, n_centroids=4)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(vecs, path, cents)
    return similarity.ivf_topk_indexed(spark, path, vecs.limit(2), cents, k=3, n_probe=2)


def _ivf_two_level_indexed(spark, docs, vecs, tmp_path):
    idx = similarity.train_ivf_two_level(vecs, k_coarse=3, k_fine=2, iters=1)
    path = str(tmp_path / "ivf2")
    similarity.write_ivf_index_two_level(vecs, path, idx)
    return similarity.ivf_topk_two_level_indexed(
        spark, path, vecs.limit(2), idx, k=3, n_probe_coarse=2, n_probe_fine=2
    )


_UNSPREAD = {
    "exact_duplicate_groups": lambda s, d, v, t: dedup.exact_duplicate_groups(d),
    "dedupe_exact": lambda s, d, v, t: dedup.dedupe_exact(d),
    "jaccard_pairs": lambda s, d, v, t: dedup.jaccard_pairs(d),
    "minhash_lsh_pairs": lambda s, d, v, t: dedup.minhash_lsh_pairs(d),
    "simhash_pairs": lambda s, d, v, t: dedup.simhash_pairs(d),
    "brute_force_topk": lambda s, d, v, t: similarity.brute_force_topk(v, v.limit(2), k=3),
    "embedding_near_duplicates": lambda s, d, v, t: similarity.embedding_near_duplicates(v),
    "ivf_topk_indexed": _ivf_indexed,
    "ivf_topk_two_level_indexed": _ivf_two_level_indexed,
}


@pytest.mark.parametrize("op", sorted(_UNSPREAD))
def test_operator_reads_its_input_partitions(spark, one_split, tmp_path, monkeypatch, op):
    """No round-robin exchange anywhere in the operator's plan. The input
    size estimate is pinned at 64 MiB, where a size-gated spread would
    fire, and lineage cuts are lifted so the plan also shows the stages
    that a ``localCheckpoint`` would otherwise hide."""
    from neontology_spark import bucketing

    monkeypatch.setattr(bucketing, "estimated_bytes", lambda df: 64 << 20)
    monkeypatch.setattr(type(spark.range(0)), "localCheckpoint", lambda self, *a, **k: self)
    docs, vecs = one_split
    plan = _formatted(_UNSPREAD[op](spark, docs, vecs, tmp_path))
    assert "RoundRobinPartitioning" not in plan, plan
