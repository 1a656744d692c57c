"""Seeded synthetic copies of the operator tables.

The registry queries in ``__spark_entry__.queries()`` read ten parquet
tables (a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``). This module writes tables of the same schema and shape
from a seed, so the benchmark needs no data outside its own checkout:

* row counts follow the TPC-H scale factor ``sf`` (lineitem = 6M x sf);
* keys are dense ``0..n-1``; foreign keys are uniform over their parent;
* ``documents`` are bags of words from a 30-word vocabulary, with 5 %
  near duplicates (an earlier text plus `` dup``) and 0.2 % exact copies,
  which the text-dedup queries look for;
* ``embeddings`` are random unit vectors (dim 64) with labels 0..9.

Same seed and scale give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array(_names("Customer", k), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, k), pa.string()),
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array(_names("Supplier", k), pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    keys = np.arange(k)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, k), rng.choice(PART_NOUN, k))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, k), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], k), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
        "o_orderdate": _ts(rng.integers(0, 2404, k)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, k), pa.string()),
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], k), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], k), pa.string()),
        "l_shipdate": _ts(rng.integers(1, 2499, k)),
    })
    k = n["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, k)) + _EPOCH_2024
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(k * 0.015)), k), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, k), pa.string()),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, k)], pa.string()),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, dict]:
    """Write every table to ``out_dir/<name>.parquet``; returns
    ``{name: {"rows": n, "mb": size}}``."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in build_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = {"rows": tbl.num_rows, "mb": os.path.getsize(path) / 2**20}
    return sizes
