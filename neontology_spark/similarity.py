"""Similarity search over embedding columns (array<float|double>): brute-force
cosine top-k (the exact baseline), hyperplane-LSH and IVF approximate
top-k (the scale paths) and embedding near-duplicate pairs.

One vector-math implementation: every dot product — scoring, cell
assignment, norms, LSH signatures, k-means training and the collected
query side — is ``_dots``, a left-to-right float64 dim loop over
matrices that ``_as_matrix`` builds from Arrow list columns. Corpus rows
cross the Python boundary once per Arrow batch (``mapInArrow``), as
"Accelerating Python UDFs in Vectorized Query Execution" (CIDR'22)
recommends; query sides are collected and ranked on the driver with the
same helpers. The inverted file and the probes run the same code, so an
identical vector always lands in and probes the same cell — the
exact-duplicate oracles rest on that.

Plans stay O(1) in matrix size: plane and centroid matrices ride kernel
closures, never plan literals (10^5-10^6 nodes at production dims). LSH
planes derive from sha256(plane, dim), so no RNG state exists. At 10^12
vectors the LSH band join shuffles (band, bucket) keys — tune bands/bits
so buckets stay bounded; hot buckets are what AQE skew-join splits.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from .bucketing import spread_to_parallelism

# ---------------------------------------------------------------------------
# the vector-math kernel — called on executors (inside mapInArrow /
# applyInPandas closures; the package ships with the job) and on the driver
# ---------------------------------------------------------------------------


def _as_matrix(col, dim: Optional[int] = None, who: str = "vector"):
    """(X, null, holes) from an Arrow list<float|double> column.

    ``X`` is the float64 [n, dim] matrix: float32 is widened before any
    arithmetic (per-term float32 rounding would make results
    engine-dependent), NULL rows are zero and NULL elements NaN. ``null``
    marks NULL vectors and ``holes`` non-NULL vectors with a NULL
    element. Every non-NULL vector must have length ``dim`` (default: the
    first one's); otherwise this raises, naming ``who``."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    null = col.is_null().to_numpy(zero_copy_only=False)
    valid = ~null
    lens = col.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    if dim is None:
        dim = int(lens[valid][0]) if valid.any() else 0
    wrong = valid & (lens != dim)
    if wrong.any():
        raise ValueError(
            f"{who}: vector length {int(lens[wrong][0])} != dim={dim}"
        )
    X = np.zeros((n, dim), dtype=np.float64)
    holes = np.zeros(n, dtype=bool)
    flat = col.flatten()
    if len(flat):
        X[valid] = flat.to_numpy(zero_copy_only=False).reshape(-1, dim)
        if flat.null_count:
            holes[valid] = (
                flat.is_null().to_numpy(zero_copy_only=False)
                .reshape(-1, dim).any(axis=1)
            )
    return X, null, holes


def _dots(X, C):
    """Σ_d X[..., d] · C[..., d], accumulated left to right in float64 —
    the one dot product in this module. Leading axes broadcast:
    ``_dots(X[:, None], C[None])`` is the [n, m] score matrix against m
    centroids/planes/queries, ``_dots(X, X)`` the squared norms and
    ``_dots(A, B)`` row-wise pair dots. The fixed operation order makes
    every score, norm, cell and sign bit reproducible (and equal to the
    Spark ``aggregate(zip_with(...))`` fold this module used before —
    tests/test_similarity_golden.py)."""
    import numpy as np

    if X.shape[-1] != C.shape[-1]:
        raise ValueError(f"dot of dim {X.shape[-1]} with dim {C.shape[-1]}")
    acc = np.zeros(np.broadcast_shapes(X.shape[:-1], C.shape[:-1]))
    with np.errstate(over="ignore", invalid="ignore"):
        for d in range(X.shape[-1]):
            acc += X[..., d] * C[..., d]
    return acc


def _ranked(score, *ties):
    """Indices ordered by ``score`` desc (NaN first, as Spark orders NaN
    above every number), then by each ``ties`` array asc, then by index."""
    import numpy as np

    nan = np.isnan(score)
    keys = (np.arange(len(score)),) + tuple(reversed(ties))
    return np.lexsort(keys + (np.where(nan, 0.0, -score), ~nan))


# ---------------------------------------------------------------------------
# Arrow passes over the corpus
# ---------------------------------------------------------------------------


def _score_pairs_arrow(
    df: DataFrame, keep: list[str], a_vec: str, b_vec: str, a_norm: str, b_norm: str
) -> DataFrame:
    """cos = dot(a, b) / (an * bn) over candidate-pair rows in ONE Arrow
    pass. ``keep`` columns pass through untouched; the vectors must be
    non-NULL (candidate generation drops NULLs upstream — asserted)."""
    sel = df.select(*keep, a_vec, b_vec, a_norm, b_norm)
    out_schema = StructType(
        [sel.schema[c] for c in keep] + [StructField("cos", DoubleType(), True)]
    )

    def kernel(batches):
        import pyarrow as pa

        for tbl in batches:
            if tbl.num_rows == 0:
                continue
            av, a_null, _ = _as_matrix(tbl.column(a_vec), who="_score_pairs_arrow")
            bv, b_null, _ = _as_matrix(tbl.column(b_vec), who="_score_pairs_arrow")
            if a_null.any() or b_null.any():
                raise ValueError("_score_pairs_arrow: NULL vector")
            an = tbl.column(a_norm).to_numpy(zero_copy_only=False)
            bn = tbl.column(b_norm).to_numpy(zero_copy_only=False)
            cos = _dots(av, bv) / (an * bn)
            yield pa.record_batch(
                [tbl.column(c) for c in keep] + [pa.array(cos)], names=keep + ["cos"]
            )

    return sel.mapInArrow(kernel, schema=out_schema)


def _probe_rerank_arrow(
    inv: DataFrame,
    probes: dict,
    key_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "cv",
    assign_matrix: Optional[list[list[float]]] = None,
) -> DataFrame:
    """Score every inverted-file row against the queries probing its
    cell, in ONE Arrow pass over the CORPUS rows — (query_id, vec_id,
    cos) pair rows out, cos = dot / (qn * cn).

    ``probes`` maps a cell key (a tuple over ``key_cols``; ``()`` for
    brute force) to the (qids, Q, qn) arrays of the queries probing it —
    at most |Q| x n_probe query rows, riding the task closure (the query
    side of every top-k API here is collected by design). The corpus
    vectors cross the boundary once and their norms are computed here.

    ``assign_matrix``: when given, ``inv`` carries only (id, vector) and
    the kernel also computes each row's cell (first-max argmax over the
    centroid dots, like ``_assign_arrow``), so assignment and scoring
    cost one pass over the corpus."""
    import numpy as np

    C = None if assign_matrix is None else np.asarray(assign_matrix, dtype=np.float64)
    if C is not None:
        assert len(key_cols) == 1, "in-kernel assignment is single-level"
        sel = inv.select(id_col, vec_col)
    else:
        sel = inv.select(*key_cols, id_col, vec_col)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for tbl in batches:
            n = tbl.num_rows
            if n == 0:
                continue
            X, null, _ = _as_matrix(tbl.column(vec_col), who="_probe_rerank_arrow")
            if null.any():
                raise ValueError("_probe_rerank_arrow: NULL corpus vector")
            cns = np.sqrt(_dots(X, X))
            vids = tbl.column(id_col).to_numpy(zero_copy_only=False)
            if C is not None:
                keys = [np.argmax(_dots(X[:, None], C[None]), axis=1)]
            else:
                keys = [tbl.column(c).to_numpy(zero_copy_only=False) for c in key_cols]
            groups: dict = {}
            rows = zip(*(k.tolist() for k in keys)) if keys else [()] * n
            for i, k in enumerate(rows):
                groups.setdefault(k, []).append(i)
            out_q, out_v, out_c = [], [], []
            for k, idxs in groups.items():
                if k not in probes:
                    continue
                qids, Q, qn = probes[k]
                ix = np.asarray(idxs, dtype=np.int64)
                cos = _dots(X[ix][:, None], Q[None]) / (qn[None, :] * cns[ix][:, None])
                out_q.append(np.tile(qids, len(ix)))
                out_v.append(np.repeat(vids[ix], len(qids)))
                out_c.append(cos.reshape(-1))
            if not out_q:
                continue
            yield pa.record_batch(
                [pa.array(np.concatenate(a)) for a in (out_q, out_v, out_c)],
                names=["query_id", "vec_id", "cos"],
            )

    return sel.mapInArrow(kernel, schema="query_id long, vec_id long, cos double")


def _assign_arrow(
    df: DataFrame, matrix: list[list[float]], id_col: str, vec_col: str,
    out_col: str = "cluster",
) -> DataFrame:
    """(id, vector, cell) in ONE Arrow pass — nearest-centroid assignment
    by dot product, first max on ties (NaN counts as the max); NULL
    vectors get a NULL cell."""
    import numpy as np

    C = np.asarray(matrix, dtype=np.float64)
    in_schema = df.select(id_col, vec_col).schema
    out_schema = StructType(
        list(in_schema.fields) + [StructField(out_col, IntegerType(), True)]
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for tbl in batches:
            if tbl.num_rows == 0:
                continue
            X, null, _ = _as_matrix(tbl.column(vec_col), who="_assign_arrow")
            cells = np.argmax(_dots(X[:, None], C[None]), axis=1)
            cell = pa.array(cells.astype(np.int32), mask=null)
            yield pa.record_batch(
                [tbl.column(id_col), tbl.column(vec_col), cell],
                names=[id_col, vec_col, out_col],
            )

    return df.select(id_col, vec_col).mapInArrow(kernel, schema=out_schema)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, cos, rank): self-pairs dropped, then the k best
    per query by cos desc, ties by vec_id asc; cos rounded to 6 places."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos"), "rank")
    )


# ---------------------------------------------------------------------------
# the collected query side — ranked on the driver
# ---------------------------------------------------------------------------


def _query_side(queries: DataFrame, id_col: str, vec_col: str):
    """(qids int64[q], Q float64[q, dim], qn float64[q]) — one row per
    query whose vector is non-NULL with no NULL element; the others can
    never match and are skipped. |Q| rows on the driver: every top-k API
    here collects its query side by design."""
    import numpy as np

    tbl = queries.select(F.col(id_col).alias("q"), F.col(vec_col).alias("v")).toArrow()
    X, null, holes = _as_matrix(tbl.column("v"), who="query side")
    keep = ~(null | holes)
    qids = tbl.column("q").to_numpy()[keep].astype(np.int64)
    Q = X[keep]
    return qids, Q, np.sqrt(_dots(Q, Q))


def _group_probes(qs, probed) -> dict:
    """{cell key: (qids, Q, qn)} from per-query lists of probed keys."""
    groups: dict = {}
    for i, keys in enumerate(probed):
        for key in keys:
            groups.setdefault(key, []).append(i)
    return {key: tuple(a[ix] for a in qs) for key, ix in groups.items()}


def _flat_probes(qs, cents: list[list[float]], n_probe: int) -> dict:
    """{(cell,): queries} — each query probes the ``n_probe`` cells with
    the highest dot (ties to the lower cell)."""
    import numpy as np

    D = _dots(qs[1][:, None], np.asarray(cents, dtype=np.float64)[None])
    return _group_probes(qs, [[(int(c),) for c in _ranked(d)[:n_probe]] for d in D])


def _fine_rows(fine: DataFrame, coarse_ids: list[int]) -> DataFrame:
    """The fine-centroid rows of the given coarse cells only."""
    return fine.filter(F.col("coarse_id").isin(coarse_ids))


def _two_level_probes(
    qs, index: "TwoLevelIVF", n_probe_coarse: int, n_probe_fine: int
) -> dict:
    """{(coarse_id, fine_id): queries} — each query keeps its
    ``n_probe_coarse`` best coarse cells (dot desc, cell asc), then the
    ``n_probe_fine`` best fine centroids inside them (fdot desc, coarse
    asc, fine asc).

    Driver-resident fine state is bounded: only the fine rows of probed
    coarse cells are collected — at most min(|Q| × n_probe_coarse,
    k_coarse) rows of ≤ k_fine × dim doubles. The full fine frame (the
    whole k_coarse × k_fine centroid set) never leaves the executors."""
    import numpy as np

    Q = qs[1]
    D = _dots(Q[:, None], np.asarray(index.coarse, dtype=np.float64)[None])
    top = [_ranked(d)[:n_probe_coarse].tolist() for d in D]
    probed = sorted({c for t in top for c in t})
    fines = {
        r["coarse_id"]: np.asarray(r["fines"], dtype=np.float64)
        for r in (_fine_rows(index.fine, probed).collect() if probed else [])
    }
    out = []
    for q, cells in zip(Q, top):
        cand = [(c, f) for c in cells if c in fines for f in range(len(fines[c]))]
        if not cand:
            out.append([])
            continue
        fd = np.concatenate([_dots(q, fines[c]) for c in cells if c in fines])
        cs, fs = (np.asarray(v) for v in zip(*cand))
        out.append([cand[i] for i in _ranked(fd, cs, fs)[:n_probe_fine]])
    return _group_probes(qs, out)


# ---------------------------------------------------------------------------
# exact cosine
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, cos, rank). Ties broken
    by vec_id for determinism. The query side is collected (queries with
    a NULL vector or element are skipped); the corpus crosses the
    boundary once and the |Q| x N pair explosion happens in the kernel."""
    qs = _query_side(queries, id_col, vec_col)
    c = spread_to_parallelism(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")),
        min_bytes=0,
    )
    probes = _group_probes(qs, [[()]] * len(qs[0]))
    return _topk(_probe_rerank_arrow(c, probes, []), k)


# ---------------------------------------------------------------------------
# LSH (random hyperplane signatures)
# ---------------------------------------------------------------------------


def _plane_matrix(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1), derived from
    sha256(plane, dim_index) — reproducible across runs/engines with no
    driver RNG state. Computed ONCE on the driver and shipped in the
    signature kernel's closure."""
    import hashlib

    return [
        [
            (int.from_bytes(
                hashlib.sha256(f"plane:{p}:{d}".encode()).digest()[:8], "big"
            ) % 100_000) / 50_000.0 - 1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from one row (column-pruned single-row
    scan; embeddings are fixed-dim by construction)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dim from column {vec_col!r}")
    return int(row["d"])


def with_hyperplane_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "sig",
    num_planes: int = 16,
    dim: Optional[int] = None,
    norm_col: Optional[str] = None,
) -> DataFrame:
    """df + ``out_col``, an array<int> of ``num_planes`` sign bits
    (bit p = v · plane_p >= 0), computed in ONE Arrow pass; with
    ``norm_col`` the same pass also emits the vector norm.

    * NULL vector → NULL signature (it can never be a candidate, and
      banding skips it) and NULL norm.
    * NULL element → all-zero bits and NULL norm.
    * NaN projection → bit 1 (Spark orders NaN above every number).
    * a non-NULL vector whose length is not ``dim`` raises: a wrong dim
      would otherwise put every row into one LSH bucket.

    The plane matrix rides the task closure, so the plan stays O(1) in
    num_planes × dim."""
    import numpy as np

    dim = dim if dim is not None else _infer_dim(df, vec_col)
    P = np.asarray(_plane_matrix(num_planes, dim), dtype=np.float64)
    fields = list(df.schema.fields) + [
        StructField(out_col, ArrayType(IntegerType(), False), True)
    ]
    if norm_col is not None:
        fields.append(StructField(norm_col, DoubleType(), True))
    names = [f.name for f in fields]

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for tbl in batches:
            n = tbl.num_rows
            X, null, holes = _as_matrix(tbl.column(vec_col), dim, "hyperplane_signature")
            proj = _dots(X[:, None], P[None])
            bits = ((proj >= 0) | np.isnan(proj)) & ~holes[:, None]
            sig = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * num_planes),
                pa.array(bits.astype(np.int32).reshape(-1)),
                mask=pa.array(null),
            )
            cols = list(tbl.columns) + [sig]
            if norm_col is not None:
                cols.append(pa.array(np.sqrt(_dots(X, X)), mask=null | holes))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(kernel, schema=StructType(fields))


def _explode_bands(df: DataFrame, bands: int, r: int, *keep: str) -> DataFrame:
    """(keep…, band, bucket) rows: one per signature band, bucket =
    xxhash64 of the band's sign bits. NULL signatures (NULL embeddings)
    are dropped here — they can never be candidates, and banding them
    would funnel every NULL row into one hot bucket."""
    df = df.filter(F.col("sig").isNotNull())
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[bi * r + j] for j in range(r)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(*keep, "bb.band", "bb.bucket")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    dim: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k: hyperplane signatures → band buckets → exact
    cosine re-rank within candidates. Recall < 1 by construction; measured
    against brute_force_topk in tests/bench."""
    assert num_planes % bands == 0
    r = num_planes // bands
    dim = dim if dim is not None else _infer_dim(corpus, vec_col)

    def with_bands(df, id_as, vec_as, norm_as):
        vecs = df.select(F.col(id_col).alias(id_as), F.col(vec_col).alias(vec_as))
        sig = with_hyperplane_signature(
            spread_to_parallelism(vecs, min_bytes=0),
            vec_as, "sig", num_planes, dim, norm_col=norm_as,
        )
        return _explode_bands(sig, bands, r, id_as, vec_as, norm_as)

    cq = with_bands(queries, "query_id", "qv", "_qn")
    cc = with_bands(corpus, "vec_id", "cv", "_cn")
    cand = (
        cq.join(cc, ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "_qn", "vec_id", "cv", "_cn")
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _topk(
        _score_pairs_arrow(cand, ["query_id", "vec_id"], "qv", "cv", "_qn", "_cn"), k
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — k-means coarse quantizer + probed clusters
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    sample_cap: int = 100_000,
    seed: int = 7,
    n_rows: Optional[int] = None,
) -> list[list[float]]:
    """Deterministic mini k-means (dot-product assignment): init = the
    n_centroids vectors with the smallest xxhash64(id), then ``iters``
    Lloyd steps, each ONE Arrow pass of per-task partial sums merged on
    the driver. Training runs over a seeded Bernoulli sample of at most
    ``sample_cap`` rows (``None``: every row), persisted once — otherwise
    ``sample()`` re-scans the corpus per action and at 10^12 rows
    training would dominate the query it accelerates."""
    train = corpus.select(id_col, vec_col)
    sampled = False
    if sample_cap is not None:
        n = n_rows if n_rows is not None else train.count()
        if n > sample_cap:
            # 1.1 oversample margin: Bernoulli undershoot below the cap is
            # harmless (it's a cap, not a quota), overshoot slightly helps
            frac = min(1.0, 1.1 * sample_cap / n)
            train = train.sample(fraction=frac, seed=seed)
            sampled = True
    if sampled or iters > 0:
        # spread BEFORE persisting: the init sort and every Lloyd
        # assignment run over the cached partitions, and a few-MB
        # embedding table otherwise caches as 1-2 blocks (1-2 cores)
        train = spread_to_parallelism(train, min_bytes=0).persist()
    init_rows = (
        train.select(vec_col).orderBy(F.xxhash64(id_col)).limit(n_centroids).collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]
    for _ in range(iters):
        by_c = _lloyd_partials_arrow(train, centroids, vec_col)
        centroids = [
            by_c[c] if c in by_c else centroids[c] for c in range(n_centroids)
        ]
    train.unpersist()
    return centroids


def _lloyd_partials_arrow(
    train: DataFrame, centroids: list[list[float]], vec_col: str
) -> dict:
    """One Lloyd recompute: {cluster: mean vector} for non-empty
    clusters, from per-task partial sums merged on the driver. Vectors
    that are NULL or hold a NULL element do not train."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        k, dim = C.shape
        sums = np.zeros((k, dim), dtype=np.float64)
        counts = np.zeros(k, dtype=np.int64)
        for tbl in batches:
            X, null, holes = _as_matrix(tbl.column(vec_col), who="train_ivf_centroids")
            X = X[~(null | holes)]
            if len(X) == 0:
                continue
            a = np.argmax(_dots(X[:, None], C[None]), axis=1)
            for c in np.unique(a):
                m = a == c
                sums[c] += X[m].sum(axis=0)
                counts[c] += int(m.sum())
        nz = np.nonzero(counts)[0]
        if len(nz) == 0:
            return
        yield pa.record_batch(
            [pa.array(nz.astype("int32")), pa.array(counts[nz]),
             pa.array(list(sums[nz]), type=pa.list_(pa.float64()))],
            names=["c", "n", "s"],
        )

    rows = train.select(vec_col).mapInArrow(
        kernel, schema="c int, n long, s array<double>"
    ).collect()
    agg: dict = {}
    for r in rows:
        n0, s0 = agg.get(r["c"], (0, None))
        s = np.asarray(r["s"], dtype=np.float64)
        agg[r["c"]] = (n0 + r["n"], s if s0 is None else s0 + s)
    return {c: [float(x) for x in s / n] for c, (n, s) in agg.items()}


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: Optional[list[list[float]]] = None,
    iters: int = 2,
    sample_cap: int = 100_000,
) -> DataFrame:
    """IVF ANN: corpus rows are bucketed by nearest centroid (the inverted
    file); each query probes its ``n_probe`` nearest centroids and exact
    cosine re-ranks only those buckets. Identical vectors always land in
    (and probe) the same bucket, so exact-duplicate queries have recall 1
    by construction — the deterministic-oracle hook. Corpus assignment,
    norm and scoring share one pass over the corpus."""
    cents = centroids if centroids is not None else train_ivf_centroids(
        corpus, n_centroids, id_col, vec_col, iters, sample_cap=sample_cap
    )
    probes = _flat_probes(_query_side(queries, id_col, vec_col), cents, n_probe)
    inv = spread_to_parallelism(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")),
        min_bytes=0,
    )
    return _topk(
        _probe_rerank_arrow(inv, probes, ["cluster"], assign_matrix=cents), k
    )


# ---------------------------------------------------------------------------
# persisted IVF index — the inverted file as a cluster-partitioned table
# ---------------------------------------------------------------------------


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted file as a parquet table PARTITIONED BY
    cluster (``.../cluster=<k>/``). This turns IVF's probe-pruning
    promise into physical I/O pruning: a query that probes 4 of 1024
    clusters lists and reads ONLY those 4 directories — at 10^12 vectors
    the difference between scanning ~0.4% and 100% of the index. On
    Iceberg the same layout is a ``PARTITIONED BY (cluster)`` table and
    the pruning is manifest-level. Assignment runs pre-shuffle at full
    width; the shuffle on the partition key then writes ONE file per
    cluster instead of writers x clusters small files (guide §6)."""
    inv = _assign_arrow(
        spread_to_parallelism(corpus.select(id_col, vec_col), min_bytes=0),
        centroids,
        id_col,
        vec_col,
    ).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"), "cluster")
    inv.repartition("cluster").write.partitionBy("cluster").mode(
        "overwrite"
    ).parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Top-k over a persisted IVF index with STATIC partition pruning.

    The set of probed clusters across ALL queries is at most
    ``n_centroids`` values (tiny, independent of query count), so it is
    pushed as a literal ``cluster IN (...)`` filter — the scan's
    PartitionFilters then skip every unprobed directory at file-listing
    time (plan-shape asserted in tests). Results are identical to
    ``ivf_topk`` with the same centroids (parity-tested)."""
    probes = _flat_probes(_query_side(queries, id_col, vec_col), centroids, n_probe)
    clusters = sorted(key[0] for key in probes)
    assert len(clusters) <= len(centroids)
    inv = spread_to_parallelism(
        spark.read.parquet(index_path).filter(F.col("cluster").isin(clusters)),
        min_bytes=0,
    )
    return _topk(_probe_rerank_arrow(inv, probes, ["cluster"]), k)


def _lsh_params_for_threshold(threshold: float) -> tuple[int, int]:
    """(num_planes, bands) sized to the cosine threshold — textbook LSH
    tuning: the per-band bit count r sets bucket selectivity, and the
    right r grows with the threshold. With p = 1 - acos(t)/π the
    probability a pair at cosine t agrees on one band is p^r and the
    miss probability over b bands is (1 - p^r)^b.

    * t ≥ 0.999 (near-exact dedup): (64, 4), r = 16. A random pair
      collides with probability ~4 · 0.5^16 ≈ 6e-5, so the candidate
      count stays ~linear in N; r = 4 made ~22% of ALL pairs candidates,
      a quadratic blow-up that cost 146 s at sf1.0 (OPTIMIZATION_r06.md).
      The price is recall right at the threshold: a pair at cosine
      exactly 0.999 is missed with probability 1.8e-3 (r = 4: 1e-5);
      at 0.9995 the miss rate is 5e-4 and at 0.9999 it is 2e-5. Exact
      duplicates (cosine 1) are never missed.
    * t < 0.999: the historical (16, 4) — r = 4 keeps recall high for
      genuinely-near (not identical) pairs; selectivity is the caller's
      knob via max bucket tuning/threshold.
    """
    return (64, 4) if threshold >= 0.999 else (16, 4)


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: Optional[int] = None,
    bands: Optional[int] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cosine ≥ threshold) via the same
    LSH bucketing — the embedding-space dedup operator.

    ``num_planes``/``bands`` default to ``_lsh_params_for_threshold``.
    The band self-join carries IDS ONLY (band, bucket, id): vectors are
    re-attached to the (deduplicated) candidate pairs afterwards, so the
    heavy payload crosses exactly one join instead of riding every
    band-bucket collision through the pair dedup (guide §8: decide with
    small rows, move big rows once)."""
    if num_planes is None and bands is None:
        num_planes, bands = _lsh_params_for_threshold(threshold)
    elif num_planes is None or bands is None:
        raise ValueError("pass both num_planes and bands, or neither")
    assert num_planes % bands == 0
    r = num_planes // bands
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    sig = with_hyperplane_signature(
        spread_to_parallelism(vecs, min_bytes=0), "v", "sig", num_planes, dim,
        norm_col="vn",
    )
    # lineage cut (mirrors dedup.py minhash): the signature feeds the
    # band rows AND the vector re-attach joins — without it the kernel
    # reruns per consumer. localCheckpoint, not persist: blocks are
    # GC-scoped to the returned frame, so repeated calls leave no residue.
    sig = sig.localCheckpoint(eager=False)
    bandrows = _explode_bands(sig, bands, r, "id")
    a = bandrows.alias("a")
    b = bandrows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )
    va, vb = (
        sig.select(F.col("id").alias(f"id_{s}"), F.col("v").alias(f"v{s}"),
                   F.col("vn").alias(f"n{s}"))
        for s in "ab"
    )
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    return (
        _score_pairs_arrow(pairs, ["id_a", "id_b"], "va", "vb", "na", "nb")
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# two-level IVF — driver state bounded at O(k_coarse × dim)
# ---------------------------------------------------------------------------


class TwoLevelIVF(NamedTuple):
    """The two-level quantizer. ``coarse`` (k_coarse × dim doubles) is
    the ONLY driver-resident state; ``fine`` is a DataFrame with one row
    per coarse cell — (coarse_id int, fines array<array<double>>, the
    cell's ≤ k_fine fine centroids) — that is never collected whole. At
    n_cells ≈ sqrt(10^12) and dim 1024 the flat quantizer's ~8 GB of
    driver state shrinks to k_coarse × 1024 doubles (~8 MB)."""

    coarse: list[list[float]]
    fine: DataFrame


def train_ivf_two_level(
    corpus: DataFrame,
    k_coarse: int = 16,
    k_fine: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
    sample_cap: int = 100_000,
    seed: int = 7,
) -> TwoLevelIVF:
    """Train the two-level quantizer.

    Level 1 is ``train_ivf_centroids``. Level 2 trains each coarse
    cell's fine centroids WHERE THE DATA LIVES: the sample is assigned
    to coarse cells, then ONE ``applyInPandas`` over ``groupBy(coarse_id)``
    runs a small deterministic k-means per cell (init = the k_fine rows
    with the smallest xxhash64(id); means over hash-sorted rows, so any
    partitioning gives the same result). The fine frame (k_coarse rows)
    is eagerly local-checkpointed: the kernel runs once and the blocks
    are GC-reclaimed with the returned handle."""
    import pandas as pd  # noqa: F401 — applyInPandas contract

    # one count serves the coarse trainer's and the fine-level sample
    n = corpus.select(id_col).count() if sample_cap is not None else None
    coarse = train_ivf_centroids(
        corpus, k_coarse, id_col, vec_col, iters, sample_cap, seed, n_rows=n
    )
    train = corpus.select(id_col, vec_col)
    if sample_cap is not None and n > sample_cap:
        train = train.sample(fraction=min(1.0, 1.1 * sample_cap / n), seed=seed)
    assigned = _assign_arrow(
        spread_to_parallelism(train, min_bytes=0),
        coarse,
        id_col,
        vec_col,
        out_col="coarse_id",
    ).select("coarse_id", F.col(vec_col).alias("_v"), F.xxhash64(id_col).alias("_h"))

    def cell_kmeans(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_h", kind="mergesort").reset_index(drop=True)
        X = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        kf = min(k_fine, len(X))
        C = X[:kf].copy()  # hash-order init — deterministic pseudo-random
        for _ in range(iters):
            a = np.argmax(_dots(X[:, None], C[None]), axis=1)  # first max
            for c in range(kf):
                m = X[a == c]
                if len(m):
                    C[c] = m.mean(axis=0)
        return pd.DataFrame(
            {
                "coarse_id": [int(pdf["coarse_id"].iloc[0])],
                "fines": [[[float(x) for x in row] for row in C]],
            }
        )

    fine = (
        assigned.groupBy("coarse_id")
        .applyInPandas(cell_kmeans, schema="coarse_id int, fines array<array<double>>")
        .localCheckpoint(eager=True)
    )
    return TwoLevelIVF(coarse, fine)


def assign_two_level(
    df: DataFrame,
    index: TwoLevelIVF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cv, coarse_id, fine_id) — the inverted-file assignment.

    Coarse: one ``_assign_arrow`` pass. Fine: an equi-join on coarse_id
    against the fine frame, then one Arrow pass taking the argmax over
    each row's joined fine-centroid matrix. The join carries NO broadcast
    hint: the fine frame is the ENTIRE centroid set (~8 GB at n_cells ≈
    √10¹², dim 1024), so the planner broadcasts it only while its size
    estimate is small and otherwise shuffles on coarse_id — each fine row
    then reaches only the tasks holding its cell. Cost per vector is
    (k_coarse + k_fine) · dim. Rows without a fine row (NULL vector, or a
    coarse cell that got no sample rows) get fine_id 0."""
    c = _assign_arrow(
        spread_to_parallelism(df.select(id_col, vec_col), min_bytes=0),
        index.coarse,
        id_col,
        vec_col,
        out_col="coarse_id",
    ).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"), "coarse_id")
    j = c.join(index.fine, "coarse_id", "left").select(
        "vec_id", "cv", "coarse_id", "fines"
    )
    out_schema = StructType(
        j.schema.fields[:3] + [StructField("fine_id", IntegerType(), False)]
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for tbl in batches:
            n = tbl.num_rows
            if n == 0:
                continue
            X, _, _ = _as_matrix(tbl.column("cv"), who="assign_two_level")
            fines = tbl.column("fines")
            has = ~fines.is_null().to_numpy(zero_copy_only=False)
            cells = tbl.column("coarse_id").to_numpy(zero_copy_only=False)
            fine_id = np.zeros(n, dtype=np.int32)
            # every row of one coarse cell joined the same fine row
            for c in np.unique(cells[has]):
                ix = np.nonzero(has & (cells == c))[0]
                Fm, _, _ = _as_matrix(fines[int(ix[0])].values, who="assign_two_level")
                fine_id[ix] = np.argmax(_dots(X[ix][:, None], Fm[None]), axis=1)
            yield pa.record_batch(
                [tbl.column(i) for i in range(3)] + [pa.array(fine_id)],
                names=["vec_id", "cv", "coarse_id", "fine_id"],
            )

    return j.mapInArrow(kernel, schema=out_schema)


def ivf_topk_two_level(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_coarse: int = 16,
    k_fine: int = 4,
    n_probe_coarse: int = 4,
    n_probe_fine: int = 4,
    index: Optional[TwoLevelIVF] = None,
    iters: int = 2,
    sample_cap: int = 100_000,
) -> DataFrame:
    """Top-k ANN over the two-level inverted file.

    Each query ranks coarse cells, keeps ``n_probe_coarse``, ranks those
    cells' fine centroids, keeps ``n_probe_fine`` (coarse_id, fine_id)
    pairs, and exact-cosine re-ranks only the corpus rows in those cells
    (``_two_level_probes``). Identical vectors assign and probe
    identically, so exact-duplicate queries have recall 1 by
    construction (the deterministic-oracle hook, as with ``ivf_topk``).
    Scan fraction ~ n_probe_fine / (k_coarse · k_fine)."""
    idx = index if index is not None else train_ivf_two_level(
        corpus, k_coarse, k_fine, id_col, vec_col, iters, sample_cap
    )
    probes = _two_level_probes(
        _query_side(queries, id_col, vec_col), idx, n_probe_coarse, n_probe_fine
    )
    inv = assign_two_level(corpus, idx, id_col, vec_col)
    return _topk(_probe_rerank_arrow(inv, probes, ["coarse_id", "fine_id"]), k)


def write_ivf_index_two_level(
    corpus: DataFrame,
    path: str,
    index: TwoLevelIVF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the two-level inverted file PARTITIONED BY
    (coarse_id, fine_id) — ``.../coarse_id=<i>/fine_id=<j>/``. Probing
    n_probe_fine of k_coarse × k_fine cells then reads only those
    directories. As in ``write_ivf_index``, the repartition on the
    partition keys writes one file per cell."""
    assign_two_level(corpus, index, id_col, vec_col).repartition(
        "coarse_id", "fine_id"
    ).write.partitionBy("coarse_id", "fine_id").mode("overwrite").parquet(
        path
    )


def ivf_topk_two_level_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    index: TwoLevelIVF,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_coarse: int = 4,
    n_probe_fine: int = 4,
) -> DataFrame:
    """Top-k over the persisted two-level inverted file with STATIC
    partition pruning on BOTH levels: the probed (coarse_id, fine_id)
    pairs — at most min(|Q| × n_probe_fine, k_coarse × k_fine) — are
    pushed as a disjunction of per-pair conjunctions, so the scan's
    PartitionFilters skip every unprobed directory (as ``ivf_topk_indexed``)."""
    probes = _two_level_probes(
        _query_side(queries, id_col, vec_col), index, n_probe_coarse, n_probe_fine
    )
    pred = F.lit(False)
    for ci, fi in sorted(probes):
        pred = pred | ((F.col("coarse_id") == ci) & (F.col("fine_id") == fi))
    inv = spread_to_parallelism(spark.read.parquet(index_path).filter(pred), min_bytes=0)
    return _topk(_probe_rerank_arrow(inv, probes, ["coarse_id", "fine_id"]), k)
