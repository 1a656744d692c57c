"""Drift-check tests: the planted shifted partition (images last part has
w/h scaled 1.5×) must be the ONLY partition flagged."""

import pytest
from pyspark.sql import functions as F

from neontology_spark.checks.drift import (
    categorical_histogram,
    check_drift,
    drift_metrics,
    numeric_histogram,
)
from neontology_spark.images import generate_images

N = 4_000
N_PARTS = 8
W_EDGES = [0.0, 16, 32, 48, 64, 80, 96, 112, 128, 160]


@pytest.fixture(scope="module")
def tables(spark):
    current = generate_images(spark, n_rows=N, n_parts=N_PARTS).cache()
    # baseline = clean snapshot WITHOUT the shifted partition's rows:
    # a clean generation still plants the shift in its last partition, so
    # build the baseline from the unshifted partitions only
    baseline = (
        generate_images(spark, n_rows=N, n_parts=N_PARTS, plant_violations=False)
        .filter(F.col("part") < N_PARTS - 1)
        .cache()
    )
    current.count(), baseline.count()
    yield baseline, current
    current.unpersist(), baseline.unpersist()


def test_numeric_drift_flags_only_shifted_partition(spark, tables):
    baseline, current = tables
    base_h = numeric_histogram(baseline, "w", W_EDGES)
    cur_h = numeric_histogram(current, "w", W_EDGES, part_col="part")
    metrics = drift_metrics(base_h, cur_h)
    res = check_drift(metrics, label="Image")
    flagged = {(r["part"], r["column"]) for r in res.violations.collect()}
    assert flagged == {(N_PARTS - 1, "w")}


def test_psi_ks_values_sane(spark, tables):
    baseline, current = tables
    base_h = numeric_histogram(baseline, "w", W_EDGES)
    cur_h = numeric_histogram(current, "w", W_EDGES, part_col="part")
    rows = {r["part"]: r for r in drift_metrics(base_h, cur_h).collect()}
    assert len(rows) == N_PARTS
    for p, r in rows.items():
        assert r["psi"] >= 0.0 - 1e-9
        assert 0.0 <= r["ks"] <= 1.0
        if p < N_PARTS - 1:
            assert r["psi"] < 0.05, f"clean part {p} drifted: {r}"
        else:
            assert r["psi"] > 0.5 and r["ks"] > 0.3


def test_categorical_drift_fmt_stable(spark, tables):
    baseline, current = tables
    base_h = categorical_histogram(baseline, "fmt")
    cur_h = categorical_histogram(current, "fmt", part_col="part")
    metrics = drift_metrics(base_h, cur_h)
    # fmt is uniform thirds everywhere; the few planted NULL/bmp rows must
    # not push any partition over the threshold
    res = check_drift(metrics, label="Image")
    assert res.violations.count() == 0


def test_categorical_drift_detects_shift(spark, tables):
    baseline, current = tables
    base_h = categorical_histogram(baseline, "fmt")
    skewed = current.withColumn(
        "fmt",
        F.when(F.col("part") == 0, F.lit("png")).otherwise(F.col("fmt")),
    )
    cur_h = categorical_histogram(skewed, "fmt", part_col="part")
    res = check_drift(drift_metrics(base_h, cur_h), label="Image")
    flagged = {r["part"] for r in res.violations.collect()}
    assert flagged == {0}


def test_hll_sketches_incremental_merge_exact_roundtrip(spark):
    """Persistable HLL sketches: union of per-batch sketches must track
    the single-pass sketch of the unioned data within HLL error, and
    estimates must be near-exact at test cardinalities."""
    from neontology_spark.checks import (
        distinct_sketches,
        sketch_distinct_estimates,
        union_distinct_sketches,
    )
    from pyspark.sql import functions as F

    b1 = spark.range(0, 600).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("cat")
    )
    b2 = spark.range(300, 900).select(
        F.col("id").alias("k"), (F.col("id") % 11).alias("cat")
    )
    merged = union_distinct_sketches(
        distinct_sketches(b1, ["k", "cat"]).unionByName(
            distinct_sketches(b2, ["k", "cat"])
        )
    )
    got = {
        r["column"]: r["n_distinct"]
        for r in sketch_distinct_estimates(merged).collect()
    }
    direct = {
        r["column"]: r["n_distinct"]
        for r in sketch_distinct_estimates(
            distinct_sketches(b1.unionByName(b2), ["k", "cat"])
        ).collect()
    }
    # union-of-sketches tracks sketch-of-union within HLL error (not
    # bit-exact: sparse-mode promotion inside the union gadget)
    assert abs(got["k"] - direct["k"]) / direct["k"] < 0.02
    assert abs(got["k"] - 900) / 900 < 0.05
    assert got["cat"] == direct["cat"] == 11  # exact at tiny cardinality


def test_hll_sketches_mixed_lgk_union(spark):
    """Historical sketches recorded at a different lgk must still union
    (ADVICE r4: audit history can outlive a precision change) — rows
    carry their lgk, and the union degrades to the coarser precision
    instead of throwing."""
    from neontology_spark.checks import (
        distinct_sketches,
        sketch_distinct_estimates,
        union_distinct_sketches,
    )
    from pyspark.sql import functions as F

    b1 = spark.range(0, 500).select(F.col("id").alias("k"))
    b2 = spark.range(400, 1000).select(F.col("id").alias("k"))
    s1 = distinct_sketches(b1, ["k"], lgk=12)
    s2 = distinct_sketches(b2, ["k"], lgk=10)
    assert {r["lgk"] for r in s1.collect()} == {12}
    assert {r["lgk"] for r in s2.collect()} == {10}
    est = sketch_distinct_estimates(
        union_distinct_sketches(s1.unionByName(s2))
    ).first()
    assert abs(est["n_distinct"] - 1000) / 1000 < 0.1


def test_hll_sketches_per_partition_rollup(spark):
    """Per-partition sketches roll up to the global estimate — the audit
    table layout (one sketch row per (part, column))."""
    from neontology_spark.checks import (
        distinct_sketches,
        sketch_distinct_estimates,
        union_distinct_sketches,
    )
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("part")
    )
    per_part = distinct_sketches(df, ["k"], part_col="part")
    assert per_part.count() == 4
    est = sketch_distinct_estimates(union_distinct_sketches(per_part)).first()
    assert abs(est["n_distinct"] - 1000) / 1000 < 0.05


def test_numeric_quantiles_exact_and_approx(spark, sf_dir):
    """Exact quantiles equal a driver-side numpy recomputation per
    group; the scale-path approx variant (GK sketch) stays within its
    rank-error bound of exact. Long-format shape: one row per
    (part, column, prob)."""
    import numpy as np

    from neontology_spark.checks import numeric_quantiles
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    probs = (0.1, 0.5, 0.9)
    exact = numeric_quantiles(
        li, ["l_extendedprice"], probs=probs, part_col="l_linenumber"
    )
    got = {
        (r["part"], r["prob"]): r["quantile"] for r in exact.collect()
    }
    pdf = li.select("l_linenumber", "l_extendedprice").toPandas()
    for part, g in pdf.groupby("l_linenumber"):
        vals = g["l_extendedprice"].to_numpy(dtype=float)
        for p in probs:
            want = float(np.quantile(vals, p))  # linear interp, like Spark
            assert got[(part, p)] == pytest.approx(want, rel=1e-12)

    approx = numeric_quantiles(
        li, ["l_extendedprice"], probs=probs, part_col="l_linenumber",
        exact=False, accuracy=10_000,
    )
    agot = {
        (r["part"], r["prob"]): r["quantile"] for r in approx.collect()
    }
    # GK guarantees RANK error (≤ n/accuracy), not value error, and
    # approx_percentile returns an actual element (no interpolation) —
    # so assert via the empirical CDF: the returned value's rank sits
    # within a whisker of the requested prob
    for part, g in pdf.groupby("l_linenumber"):
        vals = np.sort(g["l_extendedprice"].to_numpy(dtype=float))
        n = len(vals)
        for p in probs:
            v = agot[(part, p)]
            rank = np.searchsorted(vals, v, side="right") / n
            assert abs(rank - p) <= 1.0 / 10_000 + 2.0 / n, (part, p, v, rank)


def test_quantile_drift_flags_only_shifted_partition(spark, tables):
    """The planted 1.5x w/h shift in the last partition must be the only
    partition the quantile-drift check flags (same contract the
    histogram PSI/KS check meets) — exact mode for determinism."""
    from neontology_spark.checks.drift import check_quantile_drift, quantile_drift

    baseline, current = tables
    m = quantile_drift(
        baseline, current, ["w"], probs=(0.25, 0.5, 0.75),
        part_col="part", exact=True,
    )
    res = check_quantile_drift(m, label="Image", rel_threshold=0.25)
    flagged = {(r["part"], r["column"]) for r in res.violations.collect()}
    assert flagged == {(N_PARTS - 1, "w")}
    rows = {(r["part"], r["prob"]): r for r in m.collect()}
    # clean partitions: near-zero shift; shifted partition: ~+50%
    for (p, prob), r in rows.items():
        if p < N_PARTS - 1:
            assert abs(r["rel_shift"]) < 0.1
        else:
            assert r["rel_shift"] > 0.3


def test_rank_select_path_matches_percentile_bit_exact(spark, monkeypatch):
    """The size gate routes small inputs to the `percentile` aggregate,
    so the driver-scale rank-select path must be parity-covered by
    FORCING it here: both paths bit-identical on a duplicate-heavy
    fixture (runs of equal values put interpolation ranks on the same
    distinct value — exactly where Percentile short-circuits instead of
    interpolating; regression caught by the r6 sf4.0 A/B)."""
    import neontology_spark.checks.stats as st
    from neontology_spark.checks.stats import numeric_quantiles

    # runs of duplicated values + a near-unique column, two groups
    rows = [
        (i % 3 + 1, float((i // 7) % 50 + 1), float(i) * 1.37 % 997.0)
        for i in range(30_000)
    ]
    df = spark.createDataFrame(rows, "g long, dup double, uniq double")

    monkeypatch.setattr(st, "_RANK_SELECT_MIN_VALUES", 0)  # force rank-select
    a = numeric_quantiles(
        df, ["dup", "uniq"], probs=(0.1, 0.5, 0.9, 0.99), part_col="g"
    ).collect()
    # force the percentile aggregate
    monkeypatch.setattr(st, "_RANK_SELECT_MIN_VALUES", 1 << 60)
    b = numeric_quantiles(
        df, ["dup", "uniq"], probs=(0.1, 0.5, 0.9, 0.99), part_col="g"
    ).collect()
    ka = sorted((r["part"], r["column"], r["prob"], r["quantile"]) for r in a)
    kb = sorted((r["part"], r["column"], r["prob"], r["quantile"]) for r in b)
    assert ka == kb  # bit-exact, not approx


@pytest.mark.parametrize(
    "case", ["all_null_group", "empty_baseline", "null_baseline", "nan_column"]
)
def test_quantile_gate_sides_return_identical_rows(spark, monkeypatch, case):
    """Both sides of the exact-quantile size gate return the same rows on
    dirty inputs, row contract included: a series with no non-NULL value
    yields no rows, and a drift row needs a quantile on both sides. A
    NaN value sends the request to the `percentile` aggregate on both
    sides."""
    import neontology_spark.checks.stats as st
    from neontology_spark.checks.drift import quantile_drift
    from neontology_spark.checks.stats import numeric_quantiles

    data = spark.createDataFrame(
        [(i % 3, float(i % 17) * 1.5, float(i)) for i in range(300)],
        "g long, x double, y double",
    )
    probs = (0.1, 0.5, 0.9)

    def drift(baseline, current):
        return quantile_drift(
            baseline, current, ["x"], probs, part_col="g", exact=True
        )

    if case == "all_null_group":
        df = data.withColumn(
            "x", F.when(F.col("g") != 2, F.col("x")).cast("double")
        )
        query, want_rows = (
            lambda: numeric_quantiles(df, ["x", "y"], probs, part_col="g"),
            (3 * 2 - 1) * len(probs),
        )
    elif case == "empty_baseline":
        query, want_rows = lambda: drift(data.filter(F.lit(False)), data), 0
    elif case == "null_baseline":
        nulls = data.withColumn("x", F.lit(None).cast("double"))
        query, want_rows = lambda: drift(nulls, data), 0
    else:
        nan = data.withColumn(
            "x",
            F.when(F.col("y") % 50 == 7, F.lit(float("nan"))).otherwise(F.col("x")),
        )
        query, want_rows = lambda: drift(data, nan), 3 * len(probs)

    rank_selects = []
    real = st._rank_select
    monkeypatch.setattr(
        st, "_rank_select", lambda *a: rank_selects.append(a) or real(*a)
    )

    def rows(min_values):
        monkeypatch.setattr(st, "_RANK_SELECT_MIN_VALUES", min_values)
        return sorted(repr(tuple(r)) for r in query().collect())

    forced_rank_select = rows(0)
    assert bool(rank_selects) == (case != "nan_column")
    rank_selects.clear()
    forced_percentile = rows(1 << 60)
    assert not rank_selects
    assert forced_rank_select == forced_percentile
    assert len(forced_rank_select) == want_rows


def test_small_input_skips_the_sizing_scan(spark, monkeypatch):
    """An input the optimizer sizes below the gate goes straight to the
    `percentile` aggregate: the same rows as with the sizing scan (the
    size estimate hidden), in fewer Spark jobs."""
    import neontology_spark.checks.stats as st
    from neontology_spark.checks.stats import numeric_quantiles

    # a range has plan stats; a frame built from a Python list has none
    df = spark.range(300).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 17 * 1.5).alias("x")
    )
    sc = spark.sparkContext

    def run(group):
        sc.setJobGroup(group, group)
        try:
            rows = numeric_quantiles(df, ["x"], part_col="g").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sorted(tuple(r) for r in rows), len(
            sc.statusTracker().getJobIdsForGroup(group)
        )

    skipped, skipped_jobs = run("quantiles_estimate_known")
    monkeypatch.setattr(st, "estimated_bytes", lambda frame: None)
    scanned, scanned_jobs = run("quantiles_estimate_unknown")
    assert skipped == scanned and len(skipped) == 3 * 3
    assert skipped_jobs < scanned_jobs


def test_fused_psi_ks_matches_drift_metrics(spark):
    """``fused._psi_ks`` (driver-side, over the rollup's histograms) and
    ``drift_metrics`` (distributed) compute the same PSI and KS: one
    histogram with baseline-only, current-only and empty buckets."""
    from neontology_spark.fused import _psi_ks

    base = {"b00001": 10, "b00002": 5, "b00004": 0, "b00005": 6}  # b00002 baseline-only
    cur = {"b00001": 4, "b00003": 7, "b00004": 2, "b00005": 0}  # b00003 current-only

    def hist(counts, part):
        return spark.createDataFrame(
            [(part, "w", b, n) for b, n in counts.items()],
            "part long, column string, bucket string, n long",
        )

    got = drift_metrics(hist(base, None), hist(cur, 3)).collect()
    assert [(r["part"], r["column"]) for r in got] == [(3, "w")]

    def probs(counts):
        total = sum(counts.values())
        return {b: n / total for b, n in counts.items()}

    psi, ks = _psi_ks(probs(base), probs(cur))
    assert got[0]["psi"] == pytest.approx(psi, abs=1e-12)
    assert got[0]["ks"] == pytest.approx(ks, abs=1e-12)
    assert psi > 0.2 and ks > 0.15  # the buckets above really drift
