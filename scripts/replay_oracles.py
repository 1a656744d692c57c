#!/usr/bin/env python
"""Replay __spark_entry__ queries() entries against their DuckDB oracles
— the same comparison the driver's correctness gate runs. Usage:

    python scripts/replay_oracles.py [sf_dir] [query ...]

``sf_dir`` defaults to the sf0.01 test-data directory. With no query
names every entry is replayed; otherwise only the named ones, in the
order given (a name may repeat, so ``sim_topk sim_topk sim_topk`` is one
cold and two warm runs). Prints MATCH / MISMATCH / ROWS-ONLY and the query's wall
time (Spark collect only, the oracle excluded) per run, then the total
Spark wall time and the five slowest runs, and exits non-zero on any
mismatch or unknown query name.
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6) if not math.isnan(v) else "nan"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    names = sys.argv[2:] or sorted(queries)
    unknown = sorted(set(names) - set(queries))
    if unknown:
        print("unknown queries:", unknown)
        return 2

    spark = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", "local[8]"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    mismatches = []
    walls = []
    oracles = entrymod.oracle_sql()
    for name in names:
        t0 = time.perf_counter()
        sdf = queries[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        wall = time.perf_counter() - t0
        walls.append((wall, name))
        oracle = oracles.get(name)
        if oracle is None:
            print(f"{name}: ROWS-ONLY ({len(srows)} rows) {wall:.3f}s")
            continue
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ok = (
            sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
            and len(srows) == len(drows)
            and normalize(srows, scols) == normalize(drows, dcols)
        )
        verdict = "MATCH" if ok else "MISMATCH"
        print(f"{name}: {verdict} ({len(srows)} rows) {wall:.3f}s", flush=True)
        if not ok:
            mismatches.append(name)
    spark.stop()
    print(f"TOTAL: {sum(w for w, _ in walls):.3f}s over {len(walls)} runs")
    for wall, name in sorted(walls, reverse=True)[:5]:
        print(f"  slowest: {name} {wall:.3f}s")
    print("MISMATCHES:", mismatches)
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
