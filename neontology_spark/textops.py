"""Text-analysis operators for large-scale training-data pipelines:
token counting, language-ID heuristic, quality scoring, document
fingerprinting. All pure JVM-side Column expressions (whole-stage
codegen'd) — no Python in the hot path.

The reference has no text ops; these operate on the ``documents``
table (doc_id, text, lang, source, n_chars).

Scale notes: no UDF; the per-row metrics are projections (cost is the
scan), while ``token_frequencies`` and ``contamination_report`` shuffle.
Fingerprints use md5 (portable across engines for oracle checks) and
xxhash64 (faster, for internal joins).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language stopword marker sets for the n-gram/stopword-ratio
# language heuristic. Deliberately tiny: the heuristic's quality is not the
# point — its *shape* (array intersections over split tokens, one scan,
# no UDF) is what must scale.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "un", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "una", "un", "en", "que", "por"],
}


def tokens(col: str) -> Column:
    """Whitespace tokens with empties removed (matches DuckDB
    ``list_filter(regexp_split_to_array(trim(x),'\\s+'), ...)``)."""
    return F.array_remove(F.split(F.trim(F.col(col)), r"\s+"), "")


def token_count(col: str) -> Column:
    return F.size(tokens(col))


# BPE-ish sub-word unit count: word-boundary pieces + digits + punctuation
# runs, the standard cheap proxy for tokenizer cost before a real BPE pass.
_BPE_PATTERN = r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_count(col: str) -> Column:
    return F.size(F.regexp_extract_all(F.col(col), F.lit(_BPE_PATTERN), 0))


def stopword_ratio(col: str, lang: str = "en") -> Column:
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    return hits / F.greatest(F.size(toks), F.lit(1))


def detect_language(col: str, min_score: float = 0.05) -> Column:
    """argmax over language scores; 'und' (undetermined) below min_score.
    Expressed as a sorted array of (score, lang) structs — no UDF."""
    pairs = F.array(
        *[
            F.struct(
                stopword_ratio(col, lang).alias("score"), F.lit(lang).alias("lang")
            )
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] >= min_score, best["lang"]).otherwise(F.lit("und"))


def punct_ratio(col: str) -> Column:
    n_punct = F.length(
        F.regexp_replace(F.col(col), r"[A-Za-z0-9\s]", "")
    )
    return n_punct / F.greatest(F.length(F.col(col)), F.lit(1))


def alpha_ratio(col: str) -> Column:
    n_alpha = F.length(F.regexp_replace(F.col(col), r"[^A-Za-z]", ""))
    return n_alpha / F.greatest(F.length(F.col(col)), F.lit(1))


def mean_word_length(col: str) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    plausible word length + stopword presence. Mirrors the usual C4/Gopher
    style filters' *shape*; weights are illustrative."""
    n_tok = token_count(col)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 5000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.4)
    wl = mean_word_length(col)
    wl_ok = F.when((wl >= 2.5) & (wl <= 12.0), 1.0).otherwise(0.5)
    sw_ok = F.when(stopword_ratio(col) > 0.02, 1.0).otherwise(0.6)
    return (0.3 * len_ok + 0.25 * punct_ok + 0.25 * wl_ok + 0.2 * sw_ok).cast(
        "double"
    )


def normalize_text(col: str) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def word_tokens(col: str) -> Column:
    """Tokens of ``normalize_text(col)``, empties removed: the one
    case-folding tokenizer (``tokens`` keeps case). NULL text → NULL."""
    return F.array_remove(F.split(normalize_text(col), " "), "")


def word_ngrams(toks: str, n: int) -> Column:
    """Every word n-gram of the token column named ``toks``, in order,
    duplicates kept; ``[]`` with fewer than ``n`` tokens or NULL tokens.

    ``toks`` is the *name* of a projected column (``word_tokens(text)``
    aliased), not an expression: Spark evaluates what a lambda captures
    once per element, so an inline tokenizer would re-run once per gram
    (O(k²) per row of k tokens)."""
    t = F.col(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda j: F.array_join(F.slice(t, j, n), " "),
    )
    return F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))


def fingerprint_md5(col: str) -> Column:
    """Portable content fingerprint (md5 matches DuckDB's md5())."""
    return F.md5(normalize_text(col))


def fingerprint_xxh(col: str) -> Column:
    """Fast 64-bit content fingerprint for internal joins."""
    return F.xxhash64(normalize_text(col))


def profile_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text profile: all metrics as added columns (single
    projection over the scan)."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        bpe_ish_count(text_col).alias("n_bpe_units"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        F.round(alpha_ratio(text_col), 6).alias("alpha_ratio"),
        F.round(mean_word_length(text_col), 6).alias("mean_word_len"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio_en"),
        detect_language(text_col).alias("lang_detected"),
        F.round(quality_score(text_col), 6).alias("quality"),
        fingerprint_md5(text_col).alias("fp_md5"),
    )


def token_frequencies(
    df: DataFrame,
    text_col: str = "text",
    id_col: Optional[str] = None,
    min_count: int = 1,
    exact_docs: bool = True,
) -> DataFrame:
    """Corpus token-frequency table: (token, n_occurrences, n_docs).
    Tokens come from the same normalization the fingerprints use, so a
    token's counts are stable across engines. ``id_col`` is the document
    identity for ``n_docs``; when None a synthetic per-row id is used
    (same counts, engine-internal).

    Scale shape: one explode (linear) → ONE map-side-combinable groupBy
    on the token; token frequency is Zipfian, but sum/count aggregation
    handles hot keys with partial aggregates — no salting needed (unlike
    collect-style aggs). ``min_count`` prunes the long tail BEFORE any
    driver-side consumption (at web scale the tail is ~all distinct
    tokens). ``exact_docs=False`` switches ``n_docs`` to
    ``approx_count_distinct`` — exact distinct compiles to an Expand
    (every exploded row shuffled twice) whose cost is dominated by
    exactly the hot stopword tokens; the HLL partials keep one pass and
    are the 10^12-token setting (exact stays the default for oracle
    parity at test scale)."""
    toks = word_tokens(text_col)
    ident = (
        F.col(id_col) if id_col is not None else F.monotonically_increasing_id()
    )
    per_doc = df.select(ident.alias("_d"), F.explode(toks).alias("token"))
    n_docs = (
        F.countDistinct("_d") if exact_docs else F.approx_count_distinct("_d")
    )
    out = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        n_docs.alias("n_docs"),
    )
    if min_count > 1:
        out = out.filter(F.col("n_occurrences") >= min_count)
    return out


def top_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: Optional[str] = None,
    k: int = 100,
) -> DataFrame:
    """The k most frequent tokens with occurrence and document counts,
    deterministically ordered (count desc, token asc). ``orderBy().
    limit(k)`` compiles to TakeOrderedAndProject — per-partition top-k
    heaps merged on the driver, no global sort Exchange."""
    return (
        token_frequencies(df, text_col, id_col)
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# PII redaction + repetition metrics (curation stages)
# ---------------------------------------------------------------------------

# Patterns deliberately restricted to syntax shared by Java regex (Spark)
# and RE2 (DuckDB/Trino): no lookarounds, no backrefs — the same pattern
# string must behave identically in the engine and in any oracle/auditor.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
}


def redact_pii(col: str, patterns: Optional[dict] = None) -> Column:
    """Text with each PII match replaced by ``[TYPE]`` — chained
    regexp_replace, pure Column expr (one scan, no UDF). Order is the
    sorted pattern-name order, so redaction is deterministic even where
    patterns could overlap."""
    pats = patterns if patterns is not None else PII_PATTERNS
    out: Column = F.col(col)
    for name in sorted(pats):
        out = F.regexp_replace(out, pats[name], f"[{name.upper()}]")
    return out


def pii_counts(col: str, patterns: Optional[dict] = None) -> Column:
    """Struct of per-pattern match counts (regexp_count, JVM-side) — the
    audit/metrics companion to ``redact_pii``."""
    pats = patterns if patterns is not None else PII_PATTERNS
    return F.struct(
        *[
            F.regexp_count(F.col(col), F.lit(pats[name])).alias(name)
            for name in sorted(pats)
        ]
    )


def duplicate_line_fraction(col: str) -> Column:
    """Fraction of a document's lines that are repeats of an earlier line
    (Gopher-style repetition signal) — pure array exprs, no explode."""
    lines = F.array_remove(F.split(F.col(col), r"\n"), "")
    n = F.size(lines)
    return F.when(n > 0, (n - F.size(F.array_distinct(lines))) / n).otherwise(
        F.lit(0.0)
    )


def top_ngram_fraction(grams: str) -> Column:
    """Fraction of a document's word n-grams occupied by its single most
    frequent n-gram (boilerplate/chant detector), read from the projected
    grams column named ``grams`` (see ``word_ngrams``); 0.0 without
    grams. One sort and one run-length ``aggregate``: O(g log g) per row
    of g grams, never a shuffle."""
    g = F.col(grams)

    def step(acc, x):  # acc = (previous gram, its run length, longest run)
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(1)
        top = F.greatest(acc["top"], run)
        return F.struct(x.alias("prev"), run.alias("run"), top.alias("top"))

    start = F.struct(F.lit(None).cast("string").alias("prev"), F.lit(0).alias("run"),
                     F.lit(0).alias("top"))
    top = F.aggregate(F.array_sort(g), start, step)["top"]
    return F.when(F.size(g) > 0, top / F.size(g)).otherwise(0.0)


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + (dup_line_frac, top_bigram_frac); tokens, bigrams projected once."""
    return (
        df.withColumn("_toks", word_tokens(text_col))
        .withColumn("_grams", word_ngrams("_toks", 2))
        .select(
            "*",
            F.round(duplicate_line_fraction(text_col), 6).alias("dup_line_frac"),
            F.round(top_ngram_fraction("_grams"), 6).alias("top_bigram_frac"),
        )
        .drop("_toks", "_grams")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs a held-out/test set) — the
# standard LLM-curation stage that keeps evaluation data out of training
# corpora. No reference analogue.
# ---------------------------------------------------------------------------


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Per (document, benchmark item) count of shared distinct word
    n-grams of the normalized text (``word_tokens``):
    (doc_id, bench_id, n_shared_ngrams). A row exists only for pairs
    sharing ≥1 n-gram; downstream thresholds decide contamination.

    Scale design: the benchmark side (an eval/test set, ~10^4-10^6
    items) explodes to DISTINCT (ngram, bench_id) rows and — being tiny
    next to a 10^12-doc corpus — broadcasts; the corpus side explodes
    its distinct n-grams (array expression, no shuffle) and the join is
    then map-side. One groupBy(doc, bench) counts shared n-grams.
    n-grams join on xxhash64, not the string: 8-word grams average ~50
    bytes and the broadcast carries 8-byte keys (hash collisions at 64
    bits are ~N²/2⁶⁵ — negligible at any benchmark size)."""

    def gram_hashes(df: DataFrame, ident: str, text: str, alias: str) -> DataFrame:
        grams = F.array_distinct(word_ngrams("_toks", n))
        hashes = F.transform(grams, lambda g: F.xxhash64(g))
        toks = df.select(F.col(ident).alias(alias), word_tokens(text).alias("_toks"))
        return toks.select(alias, F.explode(hashes).alias("_gh"))

    d = gram_hashes(docs, id_col, text_col, "doc_id")
    b = gram_hashes(benchmark, bench_id_col, bench_text_col, "bench_id").dropDuplicates()
    return (
        d.join(F.broadcast(b), "_gh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Drop documents sharing ≥ ``min_overlap`` distinct n-grams with ANY
    benchmark item (the conservative eval-decontamination rule). Returns
    the kept rows of ``docs`` unchanged; one anti-join against the
    flagged doc-id set (tiny: contamination is rare by construction)."""
    flagged = (
        contamination_report(
            docs, benchmark, n, text_col, id_col, bench_text_col, bench_id_col
        )
        .filter(F.col("n_shared_ngrams") >= min_overlap)
        .select("doc_id")
        .dropDuplicates()
    )
    return docs.join(
        flagged, docs[id_col] == flagged["doc_id"], "left_anti"
    )
