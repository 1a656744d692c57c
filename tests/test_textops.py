"""Text-analysis operator tests with hand-computed goldens."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from neontology_spark import textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="The cat and the dog sat in the garden, and it was warm."),
        Row(doc_id=2, text="Der Hund und die Katze sind nicht in der Küche."),
        Row(doc_id=3, text="!!! ??? ,,, ..."),
        Row(doc_id=4, text="   "),
        Row(doc_id=5, text="word"),
    ]
    return spark.createDataFrame(rows)


def vals(df, expr, alias="v"):
    return {
        r["doc_id"]: r[alias]
        for r in df.select("doc_id", expr.alias(alias)).collect()
    }


def test_token_count(docs):
    v = vals(docs, textops.token_count("text"))
    assert v[1] == 13
    assert v[3] == 4
    assert v[4] == 0  # whitespace-only
    assert v[5] == 1


def test_bpe_ish_count(docs):
    v = vals(docs, textops.bpe_ish_count("text"))
    assert v[5] == 1  # "word" = one ≤4-char piece
    assert v[3] == 12  # each punct char its own unit (3×4 chars)
    assert v[4] == 0


def test_stopword_ratio_and_language(docs):
    v = vals(docs, textops.detect_language("text"))
    assert v[1] == "en"
    assert v[2] == "de"
    assert v[3] == "und"  # no stopword hits → undetermined
    assert v[4] == "und"


def test_punct_alpha_ratios(docs):
    p = vals(docs, textops.punct_ratio("text"))
    a = vals(docs, textops.alpha_ratio("text"))
    assert p[5] == 0.0 and a[5] == 1.0
    assert p[3] > 0.6 and a[3] == 0.0
    assert 0.0 < p[1] < 0.1


def test_quality_score_orders_sensibly(docs):
    q = vals(docs, textops.quality_score("text"))
    assert q[1] > q[3]  # prose beats punctuation soup
    assert q[1] > q[4]
    assert all(0.0 <= x <= 1.0 for x in q.values())


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="Hello   World"), Row(doc_id=2, text="  hello world  ")]
    )
    fps = vals(df, textops.fingerprint_md5("text"))
    assert fps[1] == fps[2]  # case/whitespace-insensitive
    xx = vals(df, textops.fingerprint_xxh("text"))
    assert xx[1] == xx[2]


def test_profile_one_pass(docs):
    prof = textops.profile_documents(docs)
    cols = set(prof.columns)
    assert {
        "n_tokens", "n_bpe_units", "punct_ratio", "alpha_ratio",
        "mean_word_len", "stopword_ratio_en", "lang_detected", "quality", "fp_md5",
    } <= cols
    assert prof.count() == 5


def test_runs_on_driver_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = textops.profile_documents(docs)
    n = prof.filter(F.col("n_tokens") > 0).count()
    assert n > 0


def test_token_frequencies_and_top_tokens(spark):
    from neontology_spark.textops import token_frequencies, top_tokens

    docs = spark.createDataFrame(
        [
            (1, "spark spark engine"),
            (2, "Spark  ENGINE runs"),
            (3, "engine"),
        ],
        "doc_id long, text string",
    )
    freqs = {
        r["token"]: (r["n_occurrences"], r["n_docs"])
        for r in token_frequencies(docs, "text", id_col="doc_id").collect()
    }
    assert freqs["spark"] == (3, 2)   # normalization folds case
    assert freqs["engine"] == (3, 3)
    assert freqs["runs"] == (1, 1)

    top = top_tokens(docs, "text", id_col="doc_id", k=2).collect()
    # count ties (spark=3, engine=3) break on token asc
    assert [r["token"] for r in top] == ["engine", "spark"]

    pruned = token_frequencies(docs, "text", id_col="doc_id", min_count=2)
    assert {r["token"] for r in pruned.collect()} == {"spark", "engine"}


def test_redact_pii_and_counts(spark):
    from neontology_spark.textops import pii_counts, redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b@x.org and c@y.co ip 192.168.0.1 call 555-123-4567"),
         (2, "clean text with no identifiers at all")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            redact_pii("text").alias("red"),
            pii_counts("text").alias("c"),
        ).collect()
    }
    assert out[1]["red"] == "mail [EMAIL] and [EMAIL] ip [IPV4] call [PHONE]"
    assert out[1]["c"].asDict() == {"email": 2, "ipv4": 1, "phone": 1}
    assert out[2]["red"] == "clean text with no identifiers at all"
    assert out[2]["c"].asDict() == {"email": 0, "ipv4": 0, "phone": 0}


def test_repetition_metrics(spark):
    from neontology_spark.dedup import word_shingles
    from neontology_spark.textops import repetition_metrics, word_tokens

    df = spark.createDataFrame(
        [(1, "same line\nsame line\nother line"),
         (2, "go go go go"),          # one bigram 'go go' dominates
         (3, "all words differ here"),
         (4, None), (5, ""), (6, "   "), (7, "one"), (8, "a b"),
         (9, "A a b")],               # normalizes to bigrams 'a a', 'a b'
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert abs(out[1]["dup_line_frac"] - 1 / 3) < 1e-6
    assert out[2]["top_bigram_frac"] == 1.0   # every bigram is 'go go'
    assert out[3]["dup_line_frac"] == 0.0
    assert abs(out[3]["top_bigram_frac"] - 1 / 3) < 1e-6  # 3 distinct bigrams
    assert [out[i]["top_bigram_frac"] for i in range(4, 10)] == [
        0.0, 0.0, 0.0, 0.0, 1.0, 0.5
    ]

    # shingles of the same rows: fewer than n tokens -> the whole
    # normalized text as one shingle; NULL text -> no shingles
    sh = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select("doc_id", word_tokens("text").alias("_toks"))
        .select("doc_id", word_shingles("_toks", 3).alias("sh"))
        .collect()
    }
    assert sh == {
        1: ["line other line", "line same line", "same line other",
            "same line same"],
        2: ["go go go"],
        3: ["all words differ", "words differ here"],
        4: [], 5: [""], 6: [""], 7: ["one"], 8: ["a b"], 9: ["a a b"],
    }


def test_token_frequencies_approx_docs_mode(spark):
    from neontology_spark.textops import token_frequencies

    docs = spark.createDataFrame(
        [(i, "common token plus word%d" % i) for i in range(100)],
        "doc_id long, text string",
    )
    approx = {
        r["token"]: r["n_docs"]
        for r in token_frequencies(
            docs, "text", id_col="doc_id", exact_docs=False
        ).collect()
    }
    # HLL estimate within 5% on the 100-doc hot tokens; exact plan avoided
    assert abs(approx["common"] - 100) / 100 < 0.05
    assert abs(approx["token"] - 100) / 100 < 0.05


def test_decontamination_ngram_overlap(spark):
    """Planted contamination: doc 10 embeds bench item 1's full text
    (all its 4-grams), doc 11 shares a partial window, doc 12 is clean;
    short docs (< n tokens) yield no grams; grams are case-folded on both
    sides. decontaminate() drops exactly the flagged docs at each
    threshold."""
    from neontology_spark.textops import (
        contamination_report,
        decontaminate,
        word_ngrams,
        word_tokens,
    )
    from pyspark.sql import functions as F

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six")],
        "bench_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "prefix words alpha beta gamma delta epsilon zeta suffix"),
            (11, "xx one two three four yy"),   # one 4-gram of bench 2
            (12, "completely unrelated content with many words here"),
            (13, "tiny doc"),                   # < n tokens → no grams
        ],
        "doc_id long, text string",
    )
    rep = contamination_report(docs, bench, n=4)
    got = {
        (r["doc_id"], r["bench_id"]): r["n_shared_ngrams"]
        for r in rep.collect()
    }
    # bench 1 has 3 distinct 4-grams, all inside doc 10
    assert got[(10, 1)] == 3
    assert got[(11, 2)] == 1
    assert not any(d in (12, 13) for d, _ in got)

    kept1 = sorted(
        r["doc_id"] for r in decontaminate(docs, bench, n=4).collect()
    )
    assert kept1 == [12, 13]
    kept2 = sorted(
        r["doc_id"]
        for r in decontaminate(docs, bench, n=4, min_overlap=2).collect()
    )
    assert kept2 == [11, 12, 13]  # single shared gram survives at 2

    # empty-gram edge: doc shorter than n
    assert docs.filter(F.col("doc_id") == 13).select(
        word_tokens("text").alias("_toks")
    ).select(F.size(word_ngrams("_toks", 4)).alias("s")).first()["s"] == 0

    # grams are built from case-folded tokens on both sides
    cased = contamination_report(
        spark.createDataFrame(
            [(20, "the quick brown fox jumps")], "doc_id long, text string"
        ),
        spark.createDataFrame(
            [(3, "The Quick brown fox")], "bench_id long, text string"
        ),
        n=4,
    )
    assert [tuple(r) for r in cased.collect()] == [(20, 3, 1)]

    # the benchmark side must enter as a broadcast join by default
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _lambda_bodies(plan: str):
    """Text of every ``lambdafunction(...)`` in a plan string."""
    out, start = [], plan.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
            if depth == 0:
                break
        out.append(plan[start:i])
        start = plan.find("lambdafunction(", i)
    return out


def test_long_documents_tokenize_once(spark):
    """Four ~10^4-token documents through every gram consumer. Each row
    is tokenized once and its grams read the projected tokens; with the
    tokenizer inside a gram lambda this is quadratic per row (hours for
    the top-bigram share at this size). The optimized plans must keep
    the tokenizer out of every lambda, so a re-inlining projection
    collapse fails here rather than as a slowdown."""
    import time

    from neontology_spark.dedup import jaccard_pairs
    from neontology_spark.textops import contamination_report, repetition_metrics

    words = [f"w{i % 997}" for i in range(10_000)]
    docs = spark.createDataFrame(
        [(d, " ".join(words[d:] + words[:d])) for d in range(4)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, " ".join(words[:50]))], "bench_id long, text string"
    )
    frames = [
        repetition_metrics(docs),
        jaccard_pairs(docs, threshold=0.5, max_shingle_df=None),
        contamination_report(docs, bench, n=8),
    ]
    # plans first, so a re-inlined tokenizer fails before it runs for
    # hours; jaccard_pairs reads its shingles through a checkpoint, so
    # only the other two plans still show the tokenizer
    for f in (frames[0], frames[2]):
        plan = f._jdf.queryExecution().optimizedPlan().toString()
        assert "split(" in plan
        assert not any("split(" in body for body in _lambda_bodies(plan))
    t0 = time.perf_counter()
    rep, pairs, cont = (f.collect() for f in frames)
    assert time.perf_counter() - t0 < 30.0
    assert len(rep) == 4 and len(pairs) == 6 and len(cont) == 4
