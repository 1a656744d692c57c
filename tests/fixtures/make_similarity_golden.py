#!/usr/bin/env python
"""Capture the Spark-expression outputs of the similarity vector math into
``tests/fixtures/similarity_golden.json``.

Until the numpy kernels became the only vector-math implementation,
``neontology_spark/similarity.py`` computed signatures, norms and
query-side probe dots as JVM higher-order-function expressions
(``aggregate(zip_with(...))`` over a broadcast matrix column). This
script records what those expressions produced, so the kernels that
replaced them are checked value for value (tests/test_similarity_golden.py).

It imports the expression forms, so run it against a checkout of commit
b5e098f, the last one that has them:

    git archive b5e098f | tar -x -C /tmp/old
    cd /tmp/old && python /path/to/tests/fixtures/make_similarity_golden.py .

The inputs come from ``golden_inputs()`` in the test module; the output
file is written next to this script.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _bits(sig):
    """Sign bits as a hex string (bit 0 is the most significant)."""
    if sig is None:
        return None
    return format(int("".join(str(b) for b in sig), 2), f"0{len(sig) // 4}x")


def main() -> None:
    old = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    sys.path.insert(0, old)
    sys.path.insert(0, os.path.dirname(HERE))
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from neontology_spark import similarity as S
    from test_similarity_golden import (
        FLAT_PROBE,
        PROBE_COARSE,
        PROBE_FINE,
        QUERY_IDS,
        golden_frame,
        golden_quantizers,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    flat, coarse, fines = golden_quantizers()
    fine_df = spark.createDataFrame(
        [(c, f) for c, f in enumerate(fines) if f is not None],
        "coarse_id int, fines array<array<double>>",
    )
    index = S.TwoLevelIVF(coarse, fine_df)

    out = {}
    for dtype in ("double", "float"):
        df = golden_frame(spark, dtype)
        rec = {}
        for planes in (16, 64):
            rows = S.with_hyperplane_signature(
                df, "embedding", "sig", planes, 64
            ).select("vec_id", "sig").collect()
            rec[f"sig{planes}"] = {r[0]: _bits(r[1]) for r in rows}
        rec["norm"] = {
            r[0]: r[1]
            for r in df.select("vec_id", S._norm(F.col("embedding"))).collect()
        }
        rec["flat_cell"] = {
            r[0]: r[1]
            for r in S._assign_arrow(df, flat, "vec_id", "embedding")
            .select("vec_id", "cluster").collect()
        }
        # the JVM form of the same assignment (probe side) agreed with
        # the kernel on every row without a NULL element
        jvm = {
            r[0]: r[1]
            for r in S._with_dots(df, flat, "embedding", "_d")
            .select("vec_id", S._cluster_from_dots(F.col("_d")))
            .collect()
        }
        for vid, cell in jvm.items():
            if cell is not None:
                assert cell == rec["flat_cell"][vid], (vid, cell)
        rec["two_level_cell"] = {
            r[0]: [r[1], r[2]]
            for r in S.assign_two_level(df, index)
            .select("vec_id", "coarse_id", "fine_id").collect()
        }

        queries = df.filter(F.col("vec_id").isin(QUERY_IDS))
        probes: dict = {}
        for p in S._collect_probes(
            queries, flat, "vec_id", "embedding", FLAT_PROBE, ["cluster"]
        ):
            probes.setdefault(p["query_id"], []).append(p["cluster"])
        rec["flat_probes"] = probes
        # the two-level query side exactly as ivf_topk_two_level built it
        qc = S._with_dots(queries, coarse, "embedding", "_dots").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.posexplode("_dots").alias("coarse_id", "_cdot"),
        )
        wc = Window.partitionBy("query_id").orderBy(
            F.col("_cdot").desc(), F.col("coarse_id").asc()
        )
        qprobe = (
            qc.withColumn("_cr", F.row_number().over(wc))
            .filter(F.col("_cr") <= PROBE_COARSE)
            .drop("_cr", "_cdot")
        )
        qfine = qprobe.join(F.broadcast(fine_df), "coarse_id").select(
            "query_id",
            "coarse_id",
            F.posexplode(S._dots_from_matrix("qv", "fines")).alias(
                "fine_id", "_fdot"
            ),
        )
        wf = Window.partitionBy("query_id").orderBy(
            F.col("_fdot").desc(), F.col("coarse_id").asc(), F.col("fine_id").asc()
        )
        probes = {}
        for r in (
            qfine.withColumn("_fr", F.row_number().over(wf))
            .filter(F.col("_fr") <= PROBE_FINE)
            .orderBy("query_id", "_fr")
            .collect()
        ):
            probes.setdefault(r["query_id"], []).append(
                [r["coarse_id"], r["fine_id"]]
            )
        rec["two_level_probes"] = probes
        out[dtype] = rec

    spark.stop()
    path = os.path.join(HERE, "similarity_golden.json")
    with open(path, "w") as f:
        json.dump(out, f, separators=(",", ":"), sort_keys=True)
        f.write("\n")
    print("wrote", path)


if __name__ == "__main__":
    main()
