"""Column-stats profiler (SURVEY.md A6).

The reference has no stats operator — per-row Pydantic validation is its
only null/required signal. The north_rule mandates per-column stats (null
rate, min/max, distinct) as first-class checks; this module computes them
in **one pass** over the table.

Scale design:
* ONE ``agg`` with all per-column expressions → a single column-pruned scan
  with map-side partial aggregation; no per-column jobs.
* distinct counts use ``approx_count_distinct`` (HyperLogLog++ — mergeable
  across partitions by construction, the "HLL sketch" the north_star names).
  Exact ``countDistinct`` is available behind ``exact=True`` for oracle
  parity at small scale, but at 100 TB exact-distinct per column is a
  full shuffle per column — approx is the production path.
* per-partition stats = same expressions under ``groupBy(part)``; the
  partition column is low-cardinality so the reduce side is tiny.
* binary columns (image ``bytes``) get length stats only — the payload is
  never materialized into the aggregate (``F.length`` is computed at the
  scan and the bytes dropped immediately).
"""

from __future__ import annotations

import json
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..bucketing import estimated_bytes

# long stats row schema: one row per (part, column)
STATS_COLS = [
    "part",
    "column",
    "n_rows",
    "n_nulls",
    "null_rate",
    "n_distinct",
    "min_value",
    "max_value",
]

_UNORDERED = (T.BinaryType, T.ArrayType, T.MapType, T.StructType, T.BooleanType)


def _col_exprs(df: DataFrame, c: str, exact: bool) -> list:
    """Aggregate expressions for one column; min/max stringified so all
    columns stack into one long-format result."""
    f = df.schema[c]
    nulls = F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls")
    if isinstance(f.dataType, T.BinaryType):
        base = F.length(F.col(c))
        distinct = F.lit(None).cast("long").alias(f"{c}__distinct")
        mn = F.min(base).cast("string").alias(f"{c}__min")
        mx = F.max(base).cast("string").alias(f"{c}__max")
        return [nulls, distinct, mn, mx]
    dist_src = F.col(c)
    distinct = (
        F.count_distinct(dist_src) if exact else F.approx_count_distinct(dist_src)
    ).alias(f"{c}__distinct")
    if isinstance(f.dataType, _UNORDERED):
        mn = F.lit(None).cast("string").alias(f"{c}__min")
        mx = F.lit(None).cast("string").alias(f"{c}__max")
    else:
        mn = F.min(F.col(c)).cast("string").alias(f"{c}__min")
        mx = F.max(F.col(c)).cast("string").alias(f"{c}__max")
    return [nulls, distinct, mn, mx]


def column_stats(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    part_col: Optional[str] = None,
    exact: bool = False,
) -> DataFrame:
    """One-pass per-column stats, long format:
    (part, column, n_rows, n_nulls, null_rate, n_distinct, min_value,
    max_value). ``part_col=None`` ⇒ one global row per column."""
    cols = [c for c in (columns or df.columns) if c != part_col]
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs.extend(_col_exprs(df, c, exact))

    if part_col is None:
        wide = df.groupBy(F.lit(None).cast("long").alias("part")).agg(*aggs)
    else:
        wide = df.groupBy(F.col(part_col).cast("long").alias("part")).agg(*aggs)

    # unpivot wide → long with a stack of per-column structs (driver builds
    # the expression; executors see a single projection — no extra pass)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
                F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return (
        wide.select("part", F.col("__n_rows").alias("n_rows"), F.explode(per_col).alias("s"))
        .select(
            "part",
            F.col("s.column").alias("column"),
            "n_rows",
            F.col("s.n_nulls").alias("n_nulls"),
            (F.col("s.n_nulls") / F.col("n_rows")).alias("null_rate"),
            F.col("s.n_distinct").alias("n_distinct"),
            F.col("s.min_value").alias("min_value"),
            F.col("s.max_value").alias("max_value"),
        )
    )


# ---------------------------------------------------------------------------
# persistable HLL sketches — incremental / mergeable distinct counts
# ---------------------------------------------------------------------------
#
# approx_count_distinct gives a NUMBER; these give the SKETCH (Apache
# DataSketches HLL, Spark 4 hll_sketch_agg family) as a binary column you
# can persist in the audit table. The 100 TB property: distinct counts
# become INCREMENTAL — sketch each ingest batch (or partition), persist,
# and union sketches to get the updated global distinct without ever
# rescanning history. Union is lossless and associative, so
#   estimate(union(sk(A), sk(B))) == estimate(sk(A ∪ B))
# exactly (pytest-asserted), and per-partition sketches roll up to any
# grouping after the fact.


def distinct_sketches(
    df: DataFrame,
    columns: Sequence[str],
    part_col: Optional[str] = None,
    lgk: int = 12,
) -> DataFrame:
    """One-pass HLL sketches, long format: (part, column, sketch).
    Values are stringified before sketching so every column type (and
    any engine re-reading the audit table with the same convention)
    hashes identically; NULLs are not counted. ``lgk`` trades sketch
    size (2^lgk buckets) for accuracy."""
    cols = [c for c in columns if c != part_col]
    aggs = [
        F.hll_sketch_agg(F.col(c).cast("string"), lgk).alias(f"__sk_{c}")
        for c in cols
    ]
    if part_col is None:
        wide = df.groupBy(F.lit(None).cast("long").alias("part")).agg(*aggs)
    else:
        wide = df.groupBy(F.col(part_col).cast("long").alias("part")).agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"), F.col(f"__sk_{c}").alias("sketch")
            )
            for c in cols
        ]
    )
    return wide.select("part", F.explode(per_col).alias("s")).select(
        "part",
        F.col("s.column").alias("column"),
        F.col("s.sketch").alias("sketch"),
        # recorded per row so historical sketches taken at a different
        # lgk remain auditable and unionable (ADVICE r4)
        F.lit(lgk).cast("int").alias("lgk"),
    )


def union_distinct_sketches(sketches: DataFrame) -> DataFrame:
    """Roll sketches up across parts/batches/runs: (column, sketch).
    Feed it the unionByName of any number of ``distinct_sketches``
    outputs (this run's + the audit table's persisted history).
    ``allowDifferentLgConfigK=True``: sketches recorded at different
    ``lgk`` settings across history union at the coarser precision
    instead of throwing (each row carries its ``lgk`` for audit)."""
    return sketches.groupBy("column").agg(
        F.hll_union_agg("sketch", True).alias("sketch")
    )


def sketch_distinct_estimates(sketches: DataFrame) -> DataFrame:
    """(column, n_distinct) estimates from (column, sketch) rows."""
    return sketches.select(
        "column", F.hll_sketch_estimate("sketch").alias("n_distinct")
    )


def numeric_quantiles(
    df: DataFrame,
    columns: Sequence[str],
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    part_col: Optional[str] = None,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Long-format quantiles: (part, column, prob, quantile) — the
    distribution companion to ``column_stats``'s min/max (quantile
    drift between partitions/snapshots catches shifts a min/max never
    shows). A (part, column) with no non-NULL value yields no rows.

    ``exact=True`` computes exact linear-interpolated quantiles —
    bit-identical to Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` (oracle-checked). An input the optimizer sizes
    below 2 × ``_RANK_SELECT_MIN_VALUES`` bytes goes straight to one
    ``percentile`` aggregate; otherwise one per-group count/min/max scan
    sizes it: from ``_RANK_SELECT_MIN_VALUES`` non-NULL values up, a
    rank-select finishes the job in two more scans without buffering or
    sorting values; below it (or with NaN/±inf values, or more than
    ``_QUANTILE_MAX_SERIES`` (part, column) pairs) ``percentile`` does —
    same rows on either side.
    ``exact=False`` is the 10^12-row path: ``approx_percentile`` (GK
    sketch, ``accuracy`` controls the rank error bound ~1/accuracy,
    memory O(accuracy·log n)) — one map-side-combinable aggregate at
    any size. Same output shape either way; accuracy-vs-exact deviation
    is pytest-bounded. Both modes run ``_grouped_quantiles``."""
    cols = [c for c in columns if c != part_col]
    part = (
        F.col(part_col).cast("long") if part_col is not None
        else F.lit(None).cast("long")
    ).alias("part")
    frame = df.select(part, *_value_cols(cols))
    return _grouped_quantiles(frame, ["part"], cols, probs, exact, accuracy)


# ---------------------------------------------------------------------------
# grouped quantiles — one engine, two exact algorithms picked by size
# ---------------------------------------------------------------------------
#
# Spark's `percentile` is a TypedImperativeAggregate: every task builds a
# value→count OpenHashMap per group, the maps are serialized through the
# shuffle and merged, and one reduce task per group sorts the merged map.
# On near-all-distinct columns the map is the column itself. The
# rank-select below computes the same interpolated quantiles with three
# cheap scans whose aggregates are all map-side combinable:
#
#   1. per (group, column) series: count / min / max (+ a NaN/±inf
#      probe) — also what the size gate reads;
#   2. a fixed-width bucket histogram per series — counts only, collected;
#      the bucket holding each probed rank and its rank offset are
#      located driver-side;
#   3. a filtered scan of ONLY those buckets' rows, aggregated to
#      (value, count), selected and interpolated driver-side with
#      `percentile`'s exact formula
#      (lo*(hi-pos) + hi*(pos-lo), pos = p·(n-1)).
#
# Shuffle bytes: O(series × buckets) histogram counts instead of the
# data. Driver residency: scan 1 collects at most _QUANTILE_MAX_SERIES //
# |cols| + 1 group rows; scan 2 at most _QUANTILE_MAX_SERIES ×
# _QUANTILE_BUCKETS = 262,144 rows; scan 3 collects the distinct values
# of at most 2·|probs| buckets per series (~n / _QUANTILE_BUCKETS values
# per bucket on evenly spread data).

_QUANTILE_BUCKETS = 4096
# rank-select pays three scans; the `percentile` aggregate pays one scan
# plus a value->count map per group serialized through the shuffle. The
# map is what explodes on big near-all-distinct columns (sf1.0: 10.5 s
# vs ~4 s, measured r6), but BELOW this many non-NULL values the
# one-pass aggregate wins (sf0.1: 1.1 s vs 2.6 s, measured r6) — so pick
# by the size scan 1 already counts.
_RANK_SELECT_MIN_VALUES = 4_000_000
# rank-select embeds each series' bucket grid in the plan and collects
# up to series × _QUANTILE_BUCKETS histogram rows, so above this many
# (group, column) series the `percentile` aggregate serves the request
# (exact quantiles are the audit path; GK sketches are the scale path).
_QUANTILE_MAX_SERIES = 64


def _value_cols(cols: Sequence[str]) -> list:
    """The float64 ``__v_<c>`` projection ``_grouped_quantiles`` reads."""
    return [F.col(c).cast("double").alias(f"__v_{c}") for c in cols]


def _grouped_quantiles(
    frame: DataFrame,
    group_cols: Sequence[str],
    cols: Sequence[str],
    probs: Sequence[float],
    exact: bool,
    accuracy: int,
) -> DataFrame:
    """Every quantile request's one engine. ``frame`` holds the bigint
    ``group_cols`` plus the ``_value_cols(cols)`` projection; the result
    is the long frame (group cols…, column, prob, quantile). A series —
    one group's column — with no non-NULL value yields no rows.

    ``exact=False`` runs one ``approx_percentile`` aggregate.
    ``exact=True`` runs rank-select's scan 1, and its counts pick the
    algorithm: with at least ``_RANK_SELECT_MIN_VALUES`` values, at most
    ``_QUANTILE_MAX_SERIES`` series and no NaN/±inf value, scans 2-3 run
    on those stats; otherwise one ``percentile`` aggregate runs. Both
    give bit-identical rows (pytest-asserted on both gate sides).

    Scan 1 is skipped when the optimizer sizes ``frame`` below two bytes
    per gate value. A scan is sized by its compressed file bytes: 2.4-6.6
    per non-NULL value on the lineitem frames at sf0.01-sf1.0, whose
    columns are one near-distinct and one 50-value column. An input that
    compresses below two bytes a value is mostly repeated values, so
    ``percentile``'s value->count map stays small."""
    plist = [float(p) for p in probs]
    pc = list(group_cols)
    est = estimated_bytes(frame) if exact else None
    if exact and (est is None or est >= 2 * _RANK_SELECT_MIN_VALUES):
        aggs = []
        for c in cols:
            v = F.col(f"__v_{c}")
            aggs += [
                F.count(v).alias(f"n__{c}"),
                F.min(v).alias(f"mn__{c}"),
                F.max(v).alias(f"mx__{c}"),
                F.coalesce(
                    F.sum((F.isnan(v) | (F.abs(v) == float("inf"))).cast("long")),
                    F.lit(0),
                ).alias(f"bad__{c}"),
            ]
        max_groups = _QUANTILE_MAX_SERIES // max(len(cols), 1)
        stats = frame.groupBy(*pc).agg(*aggs).limit(max_groups + 1).collect()
        if (
            len(stats) <= max_groups
            and sum(r[f"n__{c}"] for r in stats for c in cols)
            >= _RANK_SELECT_MIN_VALUES
            and not any(r[f"bad__{c}"] for r in stats for c in cols)
        ):
            schema = T.StructType(
                [T.StructField(k, frame.schema[k].dataType) for k in pc]
                + [
                    T.StructField("column", T.StringType()),
                    T.StructField("prob", T.DoubleType()),
                    T.StructField("quantile", T.DoubleType()),
                ]
            )
            # one JSON literal rather than createDataFrame: a frame built
            # from a Python list reads back through an RDD, which cost the
            # drift join ~0.3 s of extra Spark jobs per call (measured).
            # Python's float repr round-trips exactly, and scan 1 already
            # routed NaN/±inf away from this path.
            rows = json.dumps(
                [
                    dict(zip(schema.names, row))
                    for row in _rank_select(frame, pc, cols, plist, stats)
                ]
            )
            parsed = F.from_json(
                F.lit(rows), T.ArrayType(schema), {"mode": "FAILFAST"}
            )
            return frame.sparkSession.range(1, numPartitions=1).select(F.inline(parsed))

    def agg(c):
        v = F.col(f"__v_{c}")
        if exact:
            return F.percentile(v, plist)
        return F.percentile_approx(v, plist, accuracy)

    wide = frame.groupBy(*pc).agg(*[agg(c).alias(f"__q_{c}") for c in cols])
    per_col = F.array(
        *[
            F.struct(F.lit(c).alias("column"), F.col(f"__q_{c}").alias("qs"))
            for c in cols
        ]
    )
    probs_arr = F.array(*[F.lit(p) for p in plist])
    # an all-NULL series aggregates to a NULL array: arrays_zip is NULL
    # and explode drops it — the no-rows contract rank-select matches
    return (
        wide.select(*pc, F.explode(per_col).alias("s"))
        .select(
            *pc,
            F.col("s.column").alias("column"),
            F.explode(
                F.arrays_zip(probs_arr.alias("prob"), F.col("s.qs").alias("q"))
            ).alias("pq"),
        )
        .select(
            *pc,
            "column",
            F.col("pq.prob").alias("prob"),
            F.col("pq.q").cast("double").alias("quantile"),
        )
    )


def _rank_select(
    base: DataFrame,
    pc: Sequence[str],
    cols: Sequence[str],
    plist: Sequence[float],
    stats: list,
) -> list:
    """Rank-select scans 2-3 over ``_grouped_quantiles``'s frame, given
    scan 1's per-group ``stats`` rows. Returns (*group key, column,
    prob, quantile) tuples; series with no value get none.

    The rank→bucket location runs DRIVER-side over the collected
    histogram instead of a window + broadcast join (one less shuffle and
    two fewer driver actions per call, measured r6), and no pass is
    checkpointed: each is a plain column-pruned scan."""
    import math

    def v(c):
        return F.col(f"__v_{c}")

    results: list = []  # (*pkey, column, prob, quantile)
    need: dict = {}  # (pkey tuple, c) -> {n, mn, mx, ranks}
    for r in stats:
        pkey = tuple(r[k] for k in pc)
        for c in cols:
            n = r[f"n__{c}"]
            if n == 0:
                continue
            mn, mx = float(r[f"mn__{c}"]), float(r[f"mx__{c}"])
            if mn == mx:
                results += [(*pkey, c, p, mn) for p in plist]
                continue
            ranks = set()
            for p in plist:
                pos = p * (n - 1)
                ranks.add(int(math.floor(pos)))
                ranks.add(int(math.ceil(pos)))
            need[(pkey, c)] = {"n": n, "mn": mn, "mx": mx, "ranks": ranks}
    if not need:
        return results

    nb = _QUANTILE_BUCKETS

    def group_cond(pkey):
        cond = None
        for k, val in zip(pc, pkey):
            p = F.col(k).eqNullSafe(F.lit(val).cast("long"))
            cond = p if cond is None else (cond & p)
        return cond

    def bucket_of(c):
        """Bucket id for column c under its group's [mn, mx) grid — the
        IDENTICAL expression in scans 2 and 3, so assignment is
        consistent; NULL outside needed groups. Monotone by IEEE
        correctly-rounded -, /, *, floor."""
        expr = F.lit(None).cast("long")
        for (pkey, cc), info in need.items():
            if cc != c:
                continue
            b = F.least(
                F.floor(
                    (v(c) - F.lit(info["mn"]))
                    / F.lit(info["mx"] - info["mn"])
                    * F.lit(float(nb))
                ).cast("long"),
                F.lit(nb - 1),
            )
            expr = F.when(group_cond(pkey) & v(c).isNotNull(), b).otherwise(expr)
        return expr

    # ---- scan 2: bucket histogram; ranks located DRIVER-side -----------
    entries = [
        F.struct(F.lit(c).alias("c"), bucket_of(c).alias("b")) for c in cols
    ]
    hist = (
        base.select(*pc, F.explode(F.array(*entries)).alias("s"))
        .select(*pc, F.col("s.c").alias("column"), F.col("s.b").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy(*pc, "column", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    by_group: dict = {}  # (pkey, c) -> [(bucket, cnt)]
    for r in hist:
        by_group.setdefault(
            (tuple(r[k] for k in pc), r["column"]), []
        ).append((r["bucket"], r["cnt"]))
    # (pkey, c) -> bucket -> [(rank, cum_before)]
    target: dict = {}
    for (pkey, c), info in need.items():
        buckets = sorted(by_group.get((pkey, c), []))
        want = sorted(info["ranks"])
        cum = 0
        wi = 0
        for b, cnt in buckets:
            hi = cum + cnt
            while wi < len(want) and want[wi] < hi:
                target.setdefault((pkey, c), {}).setdefault(b, []).append(
                    (want[wi], cum)
                )
                wi += 1
            cum = hi
            if wi >= len(want):
                break

    # ---- scan 3: exact (value, count) inside candidate buckets only ----
    # membership in the tiny candidate (group, column, bucket) set is a
    # when/isin chain over the POST-explode plain columns — bucket is
    # already materialized by the Generate, so the chain never
    # re-evaluates the bucket grid and stays fully codegen'd. A
    # broadcast-join probe on the same set measured ~5 s slower at
    # sf4.0 (the exchange-planned join breaks the scan→explode→agg
    # codegen pipeline); the r5-era slow chain this comment used to warn
    # about was slow only because it re-derived bucket_of per reference.
    def member_of(c):
        expr = F.lit(False)
        for (pkey, cc), b2r in target.items():
            if cc != c:
                continue
            expr = F.when(
                group_cond(pkey),
                F.col("bucket").isin([int(b) for b in b2r]),
            ).otherwise(expr)
        return expr

    keep = F.lit(False)
    for c in cols:
        keep = F.when(F.col("column") == c, member_of(c)).otherwise(keep)

    entries3 = [
        F.struct(
            F.lit(c).alias("c"), bucket_of(c).alias("b"), v(c).alias("val")
        )
        for c in cols
    ]
    exploded3 = (
        base.select(*pc, F.explode(F.array(*entries3)).alias("s"))
        .select(
            *pc,
            F.col("s.c").alias("column"),
            F.col("s.b").alias("bucket"),
            F.col("s.val").alias("val"),
        )
        .filter(F.col("bucket").isNotNull())
    )
    got = (
        exploded3.filter(keep)
        .groupBy(*pc, "column", "bucket", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    vals: dict = {}  # (pkey, c, bucket) -> [(val, cnt)]
    for r in got:
        vals.setdefault(
            (tuple(r[k] for k in pc), r["column"], r["bucket"]), []
        ).append((r["val"], r["cnt"]))

    # ---- exact selection + percentile's interpolation formula ----------
    for (pkey, c), info in need.items():
        rank_val: dict = {}
        for b, rlist in target[(pkey, c)].items():
            arr = sorted(vals[(pkey, c, b)])
            for rank, offset in rlist:
                local = rank - offset
                acc = 0
                for val, cnt in arr:
                    acc += cnt
                    if local < acc:
                        rank_val[rank] = val
                        break
        n = info["n"]
        for p in plist:
            pos = p * (n - 1)
            lo = int(math.floor(pos))
            hi = int(math.ceil(pos))
            if lo == hi or rank_val[lo] == rank_val[hi]:
                # Percentile.getPercentile short-circuits BOTH an integer
                # position and both ranks falling on the same distinct
                # value (same index in its value->count array) — the raw
                # interpolation formula would add ~1-ulp noise there
                # (e.g. a*(0.1)+a*(0.9) != a; found by the sf4.0 A/B)
                q = rank_val[lo]
            else:
                # Percentile.getPercentile: lower*(higher-pos)+higher*(pos-lower)
                q = rank_val[lo] * (hi - pos) + rank_val[hi] * (pos - lo)
            results.append((*pkey, c, p, q))
    return results
