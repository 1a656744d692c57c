"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

No reference analogue (neontology's dedup is the exact within-batch
fingerprint, replayed in upsert.py); these are web-scale extensions.

Scale design per operator:
* exact: md5(normalized) groupBy — map-side combined, one shuffle on the
  fingerprint. Keep-first uses min(order) per group, not a window over
  the full table.
* shingles/Jaccard: explode shingles → inverted index → pair counts.
  The classic "hot shingle" blowup is bounded by dropping shingles whose
  document frequency exceeds ``max_shingle_df`` (a stopword-shingle cap):
  at 10^12 docs a shingle appearing in 10^6 docs would alone generate
  10^12 candidate pairs. This cap is the single most important knob.
* MinHash+LSH: k hash functions as xxhash64(seed_i, shingle) — all
  JVM-side via higher-order array exprs (no UDF); signature banding →
  explode (band, band_hash) → join within buckets. Probability a pair of
  true Jaccard s collides in ≥1 of b bands of r rows: 1-(1-s^r)^b.
* SimHash: per-token 64-bit hashes, bit-vote aggregation via bit
  arithmetic in array expressions; near-dup = popcount(xor) ≤ k, banded
  into 4 × 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one exact
  16-bit chunk match) to avoid the quadratic all-pairs comparison.
* embedding cosine: see similarity.py (brute-force + LSH-bucketed ANN).
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import fingerprint_md5, normalize_text, word_ngrams, word_tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ids: Optional[int] = 20,
) -> DataFrame:
    """(fp_md5, n_docs, doc_ids) for normalized-content groups with >1 doc.

    ``n_docs`` is always exact; ``doc_ids`` is the ``max_ids`` SMALLEST
    ids of the group, sorted — a bounded example list, not full
    membership. At web scale the biggest normalized-text groups (empty
    strings, boilerplate) have millions of members, and an unbounded
    ``collect_list`` makes each such group one executor-killing row.
    The bound is enforced BEFORE the
    aggregate — a per-group ``row_number`` (same shuffle key as the
    groupBy, so Catalyst reuses the Exchange) feeds a conditional
    ``collect_list`` that only ever holds ``max_ids`` elements; slicing
    after a full collect would still materialize the mega-row.
    ``max_ids=None`` restores unbounded membership (audit mode)."""
    fp = df.select(F.col(id_col), fingerprint_md5(text_col).alias("fp_md5"))
    if max_ids is None:
        ids = F.collect_list(id_col)
    else:
        w = Window.partitionBy("fp_md5").orderBy(F.col(id_col).asc())
        fp = fp.withColumn("_rn", F.row_number().over(w))
        # collect_list skips NULLs → at most max_ids elements per group
        ids = F.collect_list(F.when(F.col("_rn") <= max_ids, F.col(id_col)))
    return (
        fp.groupBy("fp_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(ids).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedupe_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id doc per identical normalized content. min-per-group
    + semi-join (two map-side-combinable aggregations) rather than a
    row_number window over the entire table — windows sort whole partitions,
    min() doesn't."""
    fp = fingerprint_md5(text_col).alias("_fp")
    keep = (
        df.select(F.col(id_col), fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


class IncrementalDedupResult(NamedTuple):
    """``kept``: surviving batch rows. ``new_fps``: THE DELTA — only the
    fingerprints this batch introduced; ``store.append(new_fps)`` (e.g.
    ``new_fps.write.mode("append")`` into the bucketed store table) is
    the production path, O(batch) per ingest. ``updated``: convenience
    full union ``seen ∪ new`` — persisting it rewrites the whole store,
    O(history) per batch; use only for small stores."""

    kept: DataFrame
    new_fps: DataFrame
    updated: DataFrame


def dedupe_exact_incremental(
    batch: DataFrame,
    seen_fps: Optional[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    cache: bool = True,
) -> IncrementalDedupResult:
    """Incremental ingest dedup: drop batch rows whose normalized-content
    fingerprint is already in the persisted ``seen_fps`` store (one
    ``fp_md5`` column) or duplicated within the batch (keep lowest id).
    Returns ``(kept, new_fps, updated)`` — append ``new_fps`` (the
    delta) to the store for the next run (the full ``updated`` union is
    O(history) to rewrite, a small-store convenience only).

    This is how exact dedup actually runs at 100 TB: the corpus is never
    rescanned; each ingest batch joins against the fingerprint store on
    ``fp_md5``. The store join is a shuffle on the fingerprint — write
    the store BUCKETED BY fp_md5 (bucketing.py) and the recurring join
    is Exchange-free on the store side. Batch-side cost is one
    fingerprint projection + two map-side-combinable aggregations
    (same shape as ``dedupe_exact``)."""
    fp = fingerprint_md5(text_col)
    fresh = dedupe_exact(batch, text_col, id_col).withColumn("_fp", fp)
    if seen_fps is not None:
        fresh = fresh.join(
            seen_fps.select(F.col("fp_md5").alias("_fp")), "_fp", "left_anti"
        )
    # fresh feeds BOTH outputs (kept and the fp projection); the
    # GC-scoped checkpoint computes the anti-join once instead of once
    # per action. ``cache=False`` keeps the plan fully declarative
    # (single-consumer callers, plan-shape tests over the bucketed
    # store scan).
    if cache:
        fresh = fresh.localCheckpoint(eager=False)
    kept = fresh.drop("_fp")
    new_fps = fresh.select(F.col("_fp").alias("fp_md5")).dropDuplicates()
    updated = (
        new_fps
        if seen_fps is None
        else seen_fps.select("fp_md5").unionByName(new_fps).dropDuplicates()
    )
    return IncrementalDedupResult(kept, new_fps, updated)


# ---------------------------------------------------------------------------
# paragraph-level dedup (the within/cross-document
# duplication doc-level MinHash misses — boilerplate headers/footers,
# repeated license blocks — the standard LLM-curation stage between
# exact-doc dedup and near-dup)
# ---------------------------------------------------------------------------


def split_paragraphs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, para_idx, para, fp_md5) — text split on blank lines
    (``\\n\\n``), one row per paragraph, 1-based index, md5 fingerprint
    of the normalized paragraph. Pure explode + column exprs: linear in
    corpus size, no shuffle."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), r"\n\n")).alias("_i", "para"),
    ).select(
        "id",
        (F.col("_i") + 1).alias("para_idx"),
        "para",
        fingerprint_md5("para").alias("fp_md5"),
    )


def paragraph_duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ids: int = 20,
    min_chars: int = 0,
) -> DataFrame:
    """(fp_md5, n_occurrences, n_docs, doc_ids) per duplicated paragraph.
    ``doc_ids`` is bounded to the ``max_ids`` smallest distinct doc ids
    (same mega-group rationale as ``exact_duplicate_groups``);
    ``min_chars`` drops tiny normalized paragraphs (empty lines,
    separators) from the report."""
    p = split_paragraphs(df, text_col, id_col)
    if min_chars > 0:
        p = p.filter(F.length(normalize_text("para")) >= min_chars)
    counts = p.groupBy("fp_md5").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("id").alias("n_docs"),
    )
    per_doc = p.select("fp_md5", "id").dropDuplicates()
    w = Window.partitionBy("fp_md5").orderBy(F.col("id").asc())
    ids = (
        per_doc.withColumn("_rn", F.row_number().over(w))
        .groupBy("fp_md5")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= max_ids, F.col("id")))
            ).alias("doc_ids")
        )
    )
    return counts.filter(F.col("n_occurrences") > 1).join(ids, "fp_md5")


def dedupe_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Remove every paragraph occurrence except the globally FIRST
    (smallest (doc_id, para_idx)) and rebuild each document's text —
    (id_col, n_paras, n_kept, text).

    Scale shape: explode (linear, no shuffle) → ONE shuffle on the
    paragraph fingerprint (row_number window; fingerprints are uniform,
    no hot keys beyond true boilerplate — which is exactly what gets
    dropped) → ONE groupBy(doc) computing totals, kept counts, and the
    rebuilt text in a single aggregate (conditional count/collect over
    the winner flag — a separate totals scan + rejoin would cost two
    more exchanges). Documents reduced to zero
    paragraphs survive with empty text (kept-row accounting intact)."""
    p = split_paragraphs(df, text_col, id_col)
    w = Window.partitionBy("fp_md5").orderBy(
        F.col("id").asc(), F.col("para_idx").asc()
    )
    flagged = p.withColumn("_rn", F.row_number().over(w))
    first = F.col("_rn") == 1
    return flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(first, F.lit(1))).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(first, F.struct("para_idx", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            sep,
        ).alias(text_col),
    ).select(
        F.col("id").alias(id_col), "n_paras", "n_kept", text_col
    )


# ---------------------------------------------------------------------------
# shingles + n-gram Jaccard
# ---------------------------------------------------------------------------


def word_shingles(toks: str, n: int = 3):
    """Distinct word n-grams of the projected token column ``toks``; fewer
    than ``n`` tokens → the whole normalized text as one shingle (``['']``
    when empty); NULL tokens → none, so NULL text never matches."""
    t = F.col(toks)
    return F.when(
        t.isNotNull() & (F.size(t) < n), F.array(F.array_join(t, " "))
    ).otherwise(F.array_distinct(word_ngrams(toks, n)))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = 1000,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold, via the
    inverted-index pattern: explode → self-join on shingle → count common →
    |A∩B| / (|A|+|B|-|A∩B|).

    ``max_shingle_df`` drops shingles present in more than that many docs —
    the hot-key cap that keeps the candidate-pair count linear-ish at scale.
    """
    # GC-scoped checkpoint (see minhash_lsh_pairs): the shingles feed three
    # consumers, and the cut keeps inferred filters (explode's size > 0, the
    # joins' isnotnull) from re-inlining the tokenizer into the gram lambda
    base = (
        df.select(F.col(id_col).alias("id"), word_tokens(text_col).alias("_toks"))
        .select("id", word_shingles("_toks", n).alias("sh"))
        .withColumn("sh_size", F.size("sh"))
        .localCheckpoint(eager=False)
    )
    sizes = base.select("id", "sh_size")
    inv = base.select("id", F.explode("sh").alias("shingle"))
    if max_shingle_df is not None:
        hot = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_df)
            .select("shingle")
        )
        inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    a = inv.alias("a")
    b = inv.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sh_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sh_size").alias("size_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_component(sh_col, seed: int):
    """min over shingles of xxhash64(seed, shingle). The lambda must stay
    single-parameter: PySpark passes (element, index) to a two-parameter
    lambda, so ``lambda s, i=i`` would receive the array index as the
    seed. The factory closure keeps the seed a true constant."""
    return F.array_min(F.transform(sh_col, lambda s: F.xxhash64(F.lit(seed), s)))


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "sig",
    num_hashes: int = 64,
    n: int = 3,
) -> DataFrame:
    """df + minhash signature column. Tokens and shingles are each
    projected once as a per-row attribute (CollapseProject does not
    inline a non-cheap expression referenced more than once). NULL text
    has no shingles, so every signature slot is NULL."""
    d = df.withColumn("_toks", word_tokens(text_col))
    d = d.withColumn("_sh", word_shingles("_toks", n))
    sig = F.array(*[_minhash_component(F.col("_sh"), i) for i in range(num_hashes)])
    return d.withColumn(out_col, sig).drop("_toks", "_sh")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs via MinHash banding: candidate pairs = docs sharing at
    least one band bucket; candidates verified with the *signature-estimate*
    Jaccard (fraction of matching minhashes) ≥ threshold.

    b=16, r=4 ⇒ collision prob at s=0.6 is 1-(1-0.6^4)^16 ≈ 0.90;
    at s=0.9 ≈ 1.0; at s=0.3 ≈ 0.12 (cheap to verify away).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = with_minhash_signature(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")),
        "_text",
        "sig",
        num_hashes,
        n,
    ).drop("_text")
    # lineage cut: the signature is expensive (num_hashes × shingles);
    # compute once, reuse for banding and verification. localCheckpoint
    # (not persist): its blocks live only as long as the returned
    # frame's RDD references — the ContextCleaner reclaims them on GC,
    # so repeated calls don't accumulate CacheManager entries.
    sig = sig.localCheckpoint(eager=False)

    # an all-NULL signature (no shingles: NULL text) is no evidence of
    # similarity and would put every such doc in one hot bucket per band
    band_rows = sig.filter(F.col("sig")[0].isNotNull()).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(*[F.col("sig")[bi * r + j] for j in range(r)]).alias(
                            "bucket"
                        ),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")

    a = band_rows.alias("a")
    b = band_rows.alias("b")
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
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda m: m,
                )
            )
            / F.lit(float(num_hashes)),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return est.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def _simhash_votes(text_col: str):
    """Array<long> of length SIMHASH_BITS: slots 0..62 = per-bit one-vote
    counts over the distinct token hashes, slot 63 = token count. One
    pass: tokenize and hash once, then a single ``aggregate`` accumulates
    all 63 bit votes (+count) per token — Catalyst does not share
    subexpressions across lambdas, so 63 per-bit aggregates would each
    re-tokenize the row."""
    toks = F.array_distinct(word_tokens(text_col))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    zero = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)
    return F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.transform(
            acc,
            lambda v, i: v
            + F.when(i == SIMHASH_BITS - 1, F.lit(1))
            .otherwise(F.bit_get(h, i))
            .cast("long"),
        ),
    )


def _simhash_from_votes(votes):
    """Majority vote per bit (ones*2 >= n: ties set the bit) → 64-bit
    long, NULL for NULL votes (NULL text), which no chunk join matches.
    ``votes`` should be a materialized column reference, not an inline
    expression — it is referenced 64 times here."""
    n = votes[SIMHASH_BITS - 1]
    expr = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS - 1):  # bit 63 excluded: keep sign positive
        expr = expr + F.when(
            votes[b] * 2 >= n, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return F.when(n.isNotNull(), expr)


def with_simhash(df: DataFrame, text_col: str = "text", out_col: str = "sh") -> DataFrame:
    """df + a 64-bit SimHash column. Two projection steps so the vote array
    is a per-row attribute evaluated once (CollapseProject will not inline
    a non-cheap expression referenced 64 times), then dropped."""
    return (
        df.withColumn("_votes", _simhash_votes(text_col))
        .withColumn(out_col, _simhash_from_votes(F.col("_votes")))
        .drop("_votes")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) ≤ max_hamming.
    Banding (pigeonhole): split the 64-bit hash into max_hamming+1 chunks —
    any pair within the hamming bound must agree exactly on ≥1 chunk, so
    candidates = equi-join per chunk, never an all-pairs product. Larger
    max_hamming ⇒ narrower chunks ⇒ looser buckets ⇒ more candidates to
    verify: the standard recall/cost dial."""
    # localCheckpoint, not persist — GC-scoped storage (see
    # minhash_lsh_pairs); the 64-bit hash feeds both sides of the
    # chunk self-join and the hamming verification
    sh = with_simhash(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")),
        "_text",
        "sh",
    ).drop("_text")
    return hamming_pairs_64(sh, "sh", "id", max_hamming)


def hamming_pairs_64(
    df: DataFrame,
    hash_col: str,
    id_col: str = "id",
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming distance ≤ ``max_hamming``
    over ANY 64-bit hash column — the pigeonhole chunk-join extracted
    from ``simhash_pairs`` so other 64-bit signatures (image dHash in
    ``multimodal.image_near_duplicates``) reuse it. Split into
    max_hamming+1 chunks; any qualifying pair agrees exactly on ≥1
    chunk, so candidates come from per-chunk equi-joins, never an
    all-pairs product."""
    n_chunks = max_hamming + 1
    width = SIMHASH_BITS // n_chunks
    if width < 4:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks of <4 bits; "
            "buckets would be useless — use MinHash/Jaccard for loose matching"
        )
    sh = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("sh")
    ).localCheckpoint(eager=False)

    def chunk_val(c: int):
        # last chunk absorbs the remainder bits
        w = width if c < n_chunks - 1 else SIMHASH_BITS - width * (n_chunks - 1)
        if w >= SIMHASH_BITS:  # single-chunk case (max_hamming=0): whole hash
            return F.col("sh")
        mask = (1 << w) - 1
        return F.shiftright(F.col("sh"), c * width).bitwiseAND(F.lit(mask))

    chunks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("val"))
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sh", "cc.chunk", "cc.val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    out = cand.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).filter(F.col("hamming") <= max_hamming)
    return out.select("id_a", "id_b", "hamming")
