"""Dedup + similarity operator tests: planted duplicates/near-duplicates
with hand-checkable expectations, plus LSH-vs-brute-force recall."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from neontology_spark.dedup import (
    dedupe_exact,
    exact_duplicate_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from neontology_spark.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "slowly behind the quiet green hills of the old valley"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text="  " + BASE.upper() + "  "),  # exact dup after normalize
        Row(doc_id=3, text=BASE.replace("lazy", "sleepy")),  # near dup
        Row(doc_id=4, text="completely different content about spark engines and "
                           "distributed query processing at large scale"),
        Row(doc_id=5, text=BASE.replace("fox", "cat").replace("dog", "bird")),  # near dup
    ]
    return spark.createDataFrame(rows)


def test_exact_groups(docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2]


def test_dedupe_exact_keeps_lowest_id(docs):
    kept = sorted(r["doc_id"] for r in dedupe_exact(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical after normalization
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert (1, 5) in pairs
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_hot_shingle_cap(spark):
    # every doc shares the hot shingle; cap excludes it from the index
    rows = [Row(doc_id=i, text=f"common shared prefix unique{i} tail{i} word{i}")
            for i in range(10)]
    df = spark.createDataFrame(rows)
    with_cap = jaccard_pairs(df, threshold=0.01, max_shingle_df=5)
    # 'common shared prefix' appears in all 10 docs -> dropped by cap;
    # remaining shingles are unique per doc -> no pairs at all
    assert with_cap.count() == 0
    without_cap = jaccard_pairs(df, threshold=0.01, max_shingle_df=None)
    assert without_cap.count() == 45  # all C(10,2) pairs share the hot shingle


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_simhash_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=8).collect()}
    assert pairs.get((1, 2)) == 0  # identical normalized text -> same simhash
    assert (1, 3) in pairs and pairs[(1, 3)] <= 8
    assert not any(4 in p for p in pairs)


@pytest.mark.parametrize(
    "pairs_fn",
    [
        lambda df: jaccard_pairs(df, threshold=0.5),
        lambda df: minhash_lsh_pairs(df, threshold=1.0),
        lambda df: simhash_pairs(df, max_hamming=3),
    ],
    ids=["jaccard", "minhash", "simhash"],
)
def test_null_text_never_pairs(spark, pairs_fn):
    """NULL text has no shingles or hash, so two NULL docs are never a
    pair; empty and whitespace-only text normalize to the same empty
    document and do pair, as do identical normal docs."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "   "), (5, BASE), (6, BASE)],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs_fn(df).collect()}
    assert got == {(3, 4), (5, 6)}


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_brute_force_topk(spark, vectors):
    queries = vectors.limit(3)
    out = brute_force_topk(vectors, queries, k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 3
    for q, rs in by_q.items():
        assert len(rs) == 5
        cos = [r["cos"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cos == sorted(cos, reverse=True)
        assert all(-1.000001 <= c <= 1.000001 for c in cos)


def test_brute_force_topk_skips_null_query_vectors(spark, vectors):
    """A query whose vector, or one of its elements, is NULL can never
    match: it yields no rows, and the other queries of the same frame
    are answered as if it were absent (ADVICE: it used to crash the
    driver-side query packing)."""
    real = vectors.orderBy("vec_id").limit(2)
    dim = len(real.first()["embedding"])
    bad = spark.createDataFrame(
        [(900_001, None), (900_002, [None] + [0.5] * (dim - 1))],
        "vec_id long, embedding array<float>",
    )
    got = brute_force_topk(vectors, real.unionByName(bad, allowMissingColumns=True), k=3)
    want = brute_force_topk(vectors, real, k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 6


def test_lsh_topk_recall_vs_exact(spark, vectors):
    queries = vectors.limit(5)
    exact = brute_force_topk(vectors, queries, k=5)
    approx = lsh_topk(vectors, queries, k=5, num_planes=16, bands=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # bands=8, r=2: generous buckets; recall should be decent on 500 vecs
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_embedding_near_duplicates_planted(spark, vectors):
    # plant an exact duplicate vector pair
    dup = vectors.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        "label",
    )
    df = vectors.unionByName(dup)
    pairs = embedding_near_duplicates(df, threshold=0.9999).collect()
    assert any(
        r["id_b"] - r["id_a"] == 1_000_000 and r["cos"] >= 0.9999 for r in pairs
    )


def test_ivf_topk_recall_and_planted_exact(spark, vectors):
    """IVF ANN: planted exact-duplicate queries recall their source at
    rank 1 / cos 1.0 (same coarse cluster, always probed); overall recall
    vs brute force stays useful at n_probe=4/16."""
    from neontology_spark.similarity import ivf_topk, train_ivf_centroids

    cents = train_ivf_centroids(vectors, n_centroids=16)
    assert len(cents) == 16 and all(len(c) == len(cents[0]) for c in cents)

    planted = vectors.limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    out = ivf_topk(vectors, planted, k=1, n_centroids=16, n_probe=4, centroids=cents)
    rows = {r["query_id"]: r for r in out.collect()}
    for r in planted.collect():
        hit = rows[r["vec_id"]]
        assert hit["vec_id"] == r["vec_id"] - 1_000_000
        assert hit["cos"] >= 0.999999

    # recall against exact search on real (non-planted) queries
    from neontology_spark.similarity import brute_force_topk

    queries = vectors.limit(5)
    exact = {(r["query_id"], r["vec_id"]) for r in brute_force_topk(vectors, queries, k=5).collect()}
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(vectors, queries, k=5, n_probe=4, centroids=cents).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_ivf_sampled_training_recall_on_planted_exact(spark, vectors):
    """Sampled quantizer training (VERDICT r2 #1): with sample_cap far
    below the corpus size, planted exact-duplicate queries still recall
    their source at rank 1 (identical vectors share a bucket regardless
    of where the centroids landed), and training stays deterministic."""
    from neontology_spark.similarity import ivf_topk, train_ivf_centroids

    n = vectors.count()
    cap = max(32, n // 4)  # force the sampling path
    c1 = train_ivf_centroids(vectors, n_centroids=8, sample_cap=cap)
    c2 = train_ivf_centroids(vectors, n_centroids=8, sample_cap=cap)
    assert c1 == c2  # seeded sample ⇒ reproducible centroids
    full = train_ivf_centroids(vectors, n_centroids=8, sample_cap=None)
    assert len(full) == 8  # full-corpus audit mode still available

    planted = vectors.limit(3).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding", "label"
    )
    out = ivf_topk(
        vectors, planted, k=1, n_centroids=8, n_probe=3, sample_cap=cap
    )
    rows = {r["query_id"]: r for r in out.collect()}
    for r in planted.collect():
        hit = rows[r["vec_id"]]
        assert hit["vec_id"] == r["vec_id"] - 2_000_000
        assert hit["cos"] >= 0.999999


def test_hyperplane_signature_wrong_dim_fails_fast(spark, vectors):
    """ADVICE r2: a dim smaller than the real vector length must raise,
    not silently collapse every row into one LSH bucket."""
    from neontology_spark.similarity import _infer_dim, with_hyperplane_signature

    real_dim = _infer_dim(vectors, "embedding")
    bad = with_hyperplane_signature(vectors, num_planes=8, dim=real_dim // 2)
    with pytest.raises(Exception, match="hyperplane_signature"):
        bad.collect()
    good = with_hyperplane_signature(vectors, num_planes=8, dim=real_dim)
    assert len(good.first()["sig"]) == 8


def test_null_embedding_yields_null_signature_not_error(spark):
    """ADVICE r3: NULL embeddings can never be candidates — they get a
    NULL signature (skipped by banding) instead of hard-failing the job.
    Vectors holding a NULL element share the all-zero signature and
    score NaN; they are never reported as a pair either."""
    from neontology_spark.similarity import (
        embedding_near_duplicates,
        with_hyperplane_signature,
    )

    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=None),
        Row(vec_id=4, embedding=[None, 1.0, 0.0, 0.0]),
        Row(vec_id=5, embedding=[None, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sigs = {
        r["vec_id"]: r["sig"]
        for r in with_hyperplane_signature(df, dim=4).collect()
    }
    assert sigs[3] is None
    assert sigs[1] == sigs[2] and sigs[1] is not None
    pairs = embedding_near_duplicates(df, threshold=0.99, dim=4).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def _plan_len(df):
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_plan_stays_bounded_at_production_dim(spark):
    """VERDICT r3 #1 'done' check: the plane matrix rides the kernel's
    closure, so the plan does not grow with num_planes x dim (a literal
    form embeds one node per plane x dim cell). Plan text at dim 1024 is
    compared with dim 4, plus an end-to-end run at dim 1024."""
    from neontology_spark.similarity import with_hyperplane_signature

    dim, planes = 1024, 32
    vec = [float((i * 37) % 13) - 6.0 for i in range(dim)]
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=vec), Row(vec_id=2, embedding=vec)],
        "vec_id long, embedding array<double>",
    )
    big = with_hyperplane_signature(df, dim=dim, num_planes=planes)
    small = with_hyperplane_signature(df, dim=4, num_planes=4)
    assert _plan_len(big) < 5_000
    assert _plan_len(big) < 1.1 * _plan_len(small)

    out = big.collect()
    assert all(len(r["sig"]) == planes for r in out)
    assert out[0]["sig"] == out[1]["sig"]


def test_ivf_centroid_matrix_plan_bounded(spark):
    """Same bound for the IVF side: the centroid matrix rides the
    assignment kernel's closure, so the assignment plan is the same size
    for 2 x 4 and 64 x 1024 centroid matrices."""
    from neontology_spark.similarity import _assign_arrow

    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0] * 1024)],
        "vec_id long, embedding array<double>",
    )
    big = _assign_arrow(df, [[0.5] * 1024] * 64, "vec_id", "embedding")
    small = _assign_arrow(df, [[0.5] * 4] * 2, "vec_id", "embedding")
    assert _plan_len(big) < 2_000
    assert _plan_len(big) < 1.1 * _plan_len(small)
    assert big.first()["cluster"] == 0


def test_exact_groups_bounded_member_list(spark):
    """VERDICT r3 #3: a 10k-member boilerplate group must not produce an
    unbounded collect_list row — n_docs stays exact, doc_ids caps at
    max_ids (the smallest ids, sorted)."""
    big = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate text").alias("text")
    )
    extra = spark.createDataFrame(
        [Row(doc_id=20_000, text="unique text"),
         Row(doc_id=20_001, text="unique text")]
    )
    out = exact_duplicate_groups(big.unionByName(extra), max_ids=16).collect()
    by_n = {r["n_docs"]: r for r in out}
    assert set(by_n) == {10_000, 2}
    assert by_n[10_000]["doc_ids"] == list(range(16))
    assert by_n[2]["doc_ids"] == [20_000, 20_001]
    unbounded = exact_duplicate_groups(
        big.limit(100), max_ids=None
    ).collect()
    assert len(unbounded[0]["doc_ids"]) == 100


def test_paragraph_duplicate_groups(spark):
    from neontology_spark.dedup import paragraph_duplicate_groups

    docs = spark.createDataFrame(
        [
            (1, "unique one\n\nSHARED FOOTER\n\nshared footer"),  # within-doc dup
            (2, "unique two\n\nshared  footer"),
            (3, "unique three"),
        ],
        "doc_id long, text string",
    )
    groups = paragraph_duplicate_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_occurrences"] == 3 and g["n_docs"] == 2
    assert g["doc_ids"] == [1, 2]


def test_dedupe_paragraphs_first_occurrence_wins(spark):
    from neontology_spark.dedup import dedupe_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nfooter text"),
            (2, "beta\n\nFooter   Text"),   # dup of doc 1's footer
            (3, "footer text"),              # entire doc is a dup → empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedupe_paragraphs(docs).collect()}
    assert out[1]["text"] == "alpha\n\nfooter text" and out[1]["n_kept"] == 2
    assert out[2]["text"] == "beta" and out[2]["n_kept"] == 1
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0
    assert all(out[i]["n_paras"] == n for i, n in [(1, 2), (2, 2), (3, 1)])


def test_ivf_indexed_parity_and_partition_pruning(spark, vectors, tmp_path):
    """The persisted cluster-partitioned IVF index must (a) return
    exactly what in-memory ivf_topk returns for the same centroids, and
    (b) prune unprobed cluster directories at the scan (PartitionFilters
    in the physical plan)."""
    from neontology_spark.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    cents = train_ivf_centroids(vectors, n_centroids=8)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(vectors, path, cents)
    import os

    dirs = [d for d in os.listdir(path) if d.startswith("cluster=")]
    assert len(dirs) == len({d for d in dirs}) and len(dirs) >= 2

    queries = vectors.limit(4)
    expected = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(
            vectors, queries, k=3, n_probe=2, centroids=cents
        ).collect()
    }
    out = ivf_topk_indexed(spark, path, queries, cents, k=3, n_probe=2)
    got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out.collect()}
    assert got == expected and len(got) > 0

    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan (not the query-side scan) must carry a non-empty
    # partition filter over cluster
    assert re.search(r"PartitionFilters: \[[^\]]*cluster[^\]]*\]", plan), plan


def test_dedupe_exact_incremental(spark):
    """Ingest-path dedup against a persisted fingerprint store: seen
    content drops, within-batch dups keep the lowest id, the store
    grows by exactly the new fingerprints."""
    from neontology_spark.dedup import dedupe_exact_incremental

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    )
    kept1, new1, fps1 = dedupe_exact_incremental(b1, None)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]
    assert fps1.count() == 2
    assert new1.count() == 2  # empty store: delta == full store

    b2 = spark.createDataFrame(
        [
            (10, "ALPHA   text"),   # seen in b1 (normalized) → drop
            (11, "gamma text"),
            (12, "Gamma Text"),     # within-batch dup → keep 11
        ],
        "doc_id long, text string",
    )
    kept2, new2, fps2 = dedupe_exact_incremental(b2, fps1)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [11]
    assert fps2.count() == 3  # alpha, beta, gamma
    # the DELTA contract (VERDICT r4 #3): new_fps carries ONLY the
    # fingerprints this batch introduced — the O(batch) append path —
    # and store ∪ delta equals the convenience full union
    new2_rows = {r["fp_md5"] for r in new2.collect()}
    assert len(new2_rows) == 1  # just gamma's fingerprint
    assert new2_rows.isdisjoint({r["fp_md5"] for r in fps1.collect()})
    appended = fps1.unionByName(new2)
    assert {r["fp_md5"] for r in appended.collect()} == {
        r["fp_md5"] for r in fps2.collect()
    }
    # re-ingesting the same batch against the updated store drops all
    kept3, new3, fps3 = dedupe_exact_incremental(b2, fps2)
    assert kept3.count() == 0 and fps3.count() == 3
    assert new3.count() == 0  # nothing new ⇒ empty delta append
