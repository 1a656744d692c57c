"""Distribution-drift checks: per-partition histograms + two-sample KS and
PSI against a persisted baseline snapshot (north_rule §drift; no reference
analogue — neontology validates rows, not distributions).

Design:
* ``histogram(df, col, edges)`` — fixed, driver-supplied bucket edges
  compiled to a ``width_bucket`` expression → ``groupBy(part, bucket)``
  count. Fixed edges (not per-run quantiles) are what make snapshots
  comparable across runs and partitions; edges come from the baseline
  snapshot's min/max or domain knowledge (e.g. image dims 0..4096).
* categorical histogram — plain ``groupBy(part, value)`` count for
  low-cardinality columns like ``fmt``.
* PSI (population stability index) and two-sample KS are computed ON THE
  HISTOGRAMS, joined baseline↔current per bucket — the raw table is
  scanned once per run to build histograms; the comparison is over
  #buckets × #partitions rows (tiny, broadcast-joined).
* quantile drift — baseline and current stacked into one frame grouped by
  (side, part), so ONE grouped-quantile run (``checks.stats``) serves both
  sides; current rows then join the broadcast baseline rows on
  (column, prob).

Scale notes: one scan builds every histogram for a run (stack the bucket
exprs, explode — same trick as the stats profiler); the KS/PSI join is
over O(parts × buckets) rows, never over data. At 10^12 rows only the
scan matters, and it column-prunes to the drifted dimensions (w, h, fmt).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .base import CheckResult, shape_violations

EPS = 1e-6  # PSI zero-bucket smoothing


def bucket_expr(col: str, edges: Sequence[float]):
    """width_bucket-style expression over fixed ascending edges:
    bucket i covers [edges[i-1], edges[i]); 0 = below, len(edges) = above.
    Compiled to a single JVM-side CASE/width_bucket — no UDF."""
    return F.width_bucket(F.col(col).cast("double"), F.lit(float(edges[0])), F.lit(float(edges[-1])), F.lit(len(edges) - 1))


def numeric_histogram(
    df: DataFrame,
    column: str,
    edges: Sequence[float],
    part_col: Optional[str] = None,
) -> DataFrame:
    """(part, column, bucket, n) — equal-width buckets between
    edges[0] and edges[-1] with len(edges)-1 interior buckets
    (width_bucket semantics: 0 = underflow, nbuckets+1 = overflow)."""
    part = (
        F.col(part_col).cast("long") if part_col else F.lit(None).cast("long")
    ).alias("part")
    return (
        df.select(part, bucket_expr(column, edges).alias("_b"))
        # zero-padded string buckets: lexicographic order == numeric order,
        # so numeric + categorical histograms share one snapshot schema and
        # the KS CDF ordering stays correct
        .select("part", F.format_string("b%05d", F.col("_b")).alias("bucket"))
        .groupBy("part", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("column", F.lit(column))
    )


def categorical_histogram(
    df: DataFrame,
    column: str,
    part_col: Optional[str] = None,
) -> DataFrame:
    """(part, column, bucket=string value, n) for low-cardinality columns."""
    part = (
        F.col(part_col).cast("long") if part_col else F.lit(None).cast("long")
    ).alias("part")
    return (
        df.select(part, F.coalesce(F.col(column).cast("string"), F.lit("<null>")).alias("bucket"))
        .groupBy("part", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("column", F.lit(column))
    )


def _normalized(hist: DataFrame, by_part: bool) -> DataFrame:
    keys = ["part", "column"] if by_part else ["column"]
    w = Window.partitionBy(*keys)
    out = hist.withColumn("p", F.col("n") / F.sum("n").over(w))
    if not by_part:
        out = (
            hist.groupBy("column", "bucket")
            .agg(F.sum("n").alias("n"))
            .withColumn("p", F.col("n") / F.sum("n").over(Window.partitionBy("column")))
            .withColumn("part", F.lit(None).cast("long"))
        )
    return out


def drift_metrics(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    by_part: bool = True,
) -> DataFrame:
    """Join baseline vs current histograms per (part, column, bucket) and
    compute PSI and the two-sample KS statistic per (part, column).

    PSI = Σ (p_cur - p_base) · ln(p_cur / p_base)   (ε-smoothed)
    KS  = max |CDF_cur - CDF_base| over the shared bucket ordering.

    Baseline histograms are global (no parts) — each current partition is
    compared against the whole-baseline distribution, which is exactly the
    "did THIS shard drift from the blessed snapshot" question.
    """
    base = (
        _normalized(baseline_hist, by_part=False)
        .select("column", "bucket", F.col("p").alias("p_base"))
    )
    cur_keys = ["part", "column"] if by_part else ["column"]
    cur = _normalized(current_hist, by_part=by_part).select(
        *cur_keys, "bucket", F.col("p").alias("p_cur")
    )
    if by_part:
        # explicit (part × baseline bucket) grid so baseline-only buckets
        # count as 0 current mass in EVERY partition, then full-outer with
        # current to also pick up current-only buckets (0 baseline mass)
        parts = cur.select("part", "column").distinct()
        grid = parts.join(F.broadcast(base), "column")
        j = grid.join(cur, ["part", "column", "bucket"], "full_outer")
    else:
        j = base.join(cur, ["column", "bucket"], "full_outer")
    j = j.select(
        *[F.col(k) for k in cur_keys],
        "bucket",
        F.coalesce("p_cur", F.lit(0.0)).alias("p_cur"),
        F.coalesce("p_base", F.lit(0.0)).alias("p_base"),
    )

    psi_term = (F.col("p_cur") - F.col("p_base")) * F.log(
        (F.col("p_cur") + F.lit(EPS)) / (F.col("p_base") + F.lit(EPS))
    )
    w = Window.partitionBy(*cur_keys).orderBy("bucket")
    j = j.withColumn("cdf_cur", F.sum("p_cur").over(w)).withColumn(
        "cdf_base", F.sum("p_base").over(w)
    )
    return (
        j.withColumn("psi_term", psi_term)
        .groupBy(*cur_keys)
        .agg(
            F.sum("psi_term").alias("psi"),
            F.max(F.abs(F.col("cdf_cur") - F.col("cdf_base"))).alias("ks"),
        )
    )


def check_drift(
    metrics: DataFrame,
    label: str,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.15,
) -> CheckResult:
    """Violation rows = (part, column) whose PSI or KS exceeds thresholds.
    PSI 0.2 is the conventional 'significant shift' bound; KS threshold is
    a plain statistic bound (we're not doing an n-dependent p-value since
    at 10^12 rows everything is 'significant' — effect size is the point)."""
    bad = metrics.filter(
        (F.col("psi") > psi_threshold) | (F.col("ks") > ks_threshold)
    )
    vio = shape_violations(
        bad,
        check="distribution_drift",
        label=label,
        part_col="part" if "part" in metrics.columns else None,
        column=F.col("column"),
        key=None,
        detail=F.concat(
            F.lit("psi="),
            F.round("psi", 4).cast("string"),
            F.lit(" ks="),
            F.round("ks", 4).cast("string"),
        ),
    )
    return CheckResult("distribution_drift", label, vio)


def quantile_drift(
    baseline: DataFrame,
    current: DataFrame,
    columns: Sequence[str],
    probs: Sequence[float] = (0.1, 0.25, 0.5, 0.75, 0.9),
    part_col: Optional[str] = None,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Quantile-based drift: per (part, column, prob), the current
    quantile vs the baseline snapshot's global quantile —
    (part, column, prob, q_base, q_cur, rel_shift, abs_shift).

    Complements the histogram PSI/KS pair: histograms see mass moving
    between fixed buckets (and are blind inside a bucket); quantile
    shifts see location/scale changes at exactly the ranks that matter
    and need no edge choice. Default ``exact=False``: at 10^12 rows the
    GK sketch is the only viable path, and drift thresholds dwarf its
    rank error. ``exact=True`` gives ``percentile``-exact quantiles.

    Both sides are one frame grouped by (side, part) — the baseline is
    one group, each current partition another — so one grouped-quantile
    run (``numeric_quantiles``'s engine, same size gate) serves both,
    and the current rows join the baseline rows (probs × columns,
    broadcast) on (column, prob). A row exists only where both sides
    have a quantile: a column that is empty or all-NULL in the baseline,
    or in a current partition, yields no rows there."""
    from .stats import _grouped_quantiles, _value_cols

    cols = [c for c in columns if c != part_col]
    cur_part = (
        F.col(part_col).cast("long") if part_col is not None
        else F.lit(None).cast("long")
    )
    sides = baseline.select(
        F.lit(0).cast("long").alias("__side"),
        F.lit(None).cast("long").alias("__part"),
        *_value_cols(cols),
    ).unionByName(
        current.select(
            F.lit(1).cast("long").alias("__side"),
            cur_part.alias("__part"),
            *_value_cols(cols),
        )
    )
    q = _grouped_quantiles(sides, ["__side", "__part"], cols, probs, exact, accuracy)
    base = q.filter(F.col("__side") == 0).select(
        "column", "prob", F.col("quantile").alias("q_base")
    )
    cur = q.filter(F.col("__side") == 1).select(
        F.col("__part").alias("part"),
        "column",
        "prob",
        F.col("quantile").alias("q_cur"),
    )
    j = cur.join(F.broadcast(base), ["column", "prob"])
    denom = F.when(F.abs(F.col("q_base")) > 1e-12, F.abs(F.col("q_base")))
    return j.select(
        "part",
        "column",
        "prob",
        "q_base",
        "q_cur",
        F.round(
            (F.col("q_cur") - F.col("q_base")) / denom, 6
        ).alias("rel_shift"),
        F.round(F.col("q_cur") - F.col("q_base"), 6).alias("abs_shift"),
    )


def check_quantile_drift(
    metrics: DataFrame,
    label: str,
    rel_threshold: float = 0.25,
) -> CheckResult:
    """Violation rows = (part, column) where ANY probed quantile shifted
    more than ``rel_threshold`` relative to baseline (NULL rel_shift —
    baseline quantile ~0 — falls back to never flagging; use abs
    thresholds downstream for zero-centered columns)."""
    worst = (
        metrics.groupBy("part", "column")
        .agg(F.max(F.abs(F.col("rel_shift"))).alias("max_rel_shift"))
        .filter(F.col("max_rel_shift") > rel_threshold)
    )
    vio = shape_violations(
        worst,
        check="quantile_drift",
        label=label,
        part_col="part" if "part" in metrics.columns else None,
        column=F.col("column"),
        key=None,
        detail=F.concat(
            F.lit("max_rel_shift="),
            F.round("max_rel_shift", 4).cast("string"),
        ),
    )
    return CheckResult("quantile_drift", label, vio)
