"""Deterministic synthetic image+caption table (BASELINE.json input_hint:
``image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64`` + explicit ``part`` partition column) with
planted violations per FIXTURES.md §1, and the vectorized per-row payload
invariants (decoded-pixel PSNR ≥ 40 dB, caption equality).

Codec: the container has no image libraries, so per the task spec the
*decode* is a deterministic fake — a tiny self-describing format
(header ``IMG1`` + w + h + uint8 luma plane) — while everything Spark-side
(binary column plumbing, Arrow batching, schema, partitioning, UDF
signatures, PSNR math) is real. A PIL/libjpeg decode would replace
``_decode`` (pandas reference kernel) and the header parse of the two
Arrow scorers; the plan does not change.

Determinism: every field is a pure function of the row index ``i`` under a
fixed seed, generated *distributed* via ``spark.range(n)`` + mapInPandas —
no driver-side materialization, so generation itself scales with the
cluster. Planted violations are pure functions of ``i`` too, so tests can
compute the exact expected violation set without reading the data.

Scale notes:
* The payload check reads (image_id, bytes, w, h, fmt, caption, part)
  only; stats/uniqueness checks never touch ``bytes`` (column pruning —
  verified in tests via the physical plan's ReadSchema).
* PSNR runs in ``mapInArrow``: pixel planes are numpy views into each
  Arrow batch's data buffer. The full-plane scorer loops once per image
  (pure numpy on the plane); the row-sampled scorer has no per-image
  Python at all (see ``_batch_scorer``).
* ``phash`` is synthesized with a hot-key cluster (FIXTURES.md) to
  exercise the salted duplicate-key aggregation path.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .models import NodeModel, Property

MAGIC = b"IMG1"
SEED = 42
N_PARTS_DEFAULT = 8

# planted-violation layout (pure functions of row index i, n = table size):
#   duplicate image_id: rows 11 and 13 reuse the ids of rows 10 and 12
#   duplicate phash hot cluster: every i % 97 == 5 shares phash HOT_PHASH
#   NULL caption (required-in-model? caption is nullable — plant NULL fmt
#     instead): rows 21, 22, 23 have NULL fmt (required column)
#   fmt outside domain: rows 31, 32 have fmt='bmp'
#   drift: partition (n_parts-1) has w,h drawn from a shifted distribution
#   corrupted bytes (PSNR fail): rows 41, 42
#   caption mismatch: row 51
HOT_PHASH = 0x5EED5EED
DUP_ID_PAIRS = ((10, 11), (12, 13))
NULL_FMT_ROWS = (21, 22, 23)
BAD_FMT_ROWS = (31, 32)
CORRUPT_ROWS = (41, 42)
CAPTION_MISMATCH_ROWS = (51,)
FMT_DOMAIN = ("png", "jpeg", "webp")


def image_model() -> NodeModel:
    """The node model for the images table (input_hint shape)."""
    return NodeModel(
        label="Image",
        primary_property="image_id",
        properties=[
            Property("image_id", str, required=True),
            Property("bytes", bytes, required=True),
            Property("w", "int", required=True),
            Property("h", "int", required=True),
            Property("fmt", str, required=True, enum_values=FMT_DOMAIN),
            Property("caption", str, required=False),
            Property("phash", int, required=True),
            Property("part", "int", required=True),
        ],
    )


# ---------------------------------------------------------------------------
# deterministic per-row synthesis (numpy-vectorized inside Arrow batches)
# ---------------------------------------------------------------------------


def _rng(i: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=SEED, counter=[int(i), 0, 0, 0]))


_SM64_GAMMA = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — a counter-based PRF over uint64
    lanes. Unlike a stateful Generator it has no per-image construction
    cost (Philox Generator setup alone was ~2/3 of the payload kernel,
    measured) and vectorizes over the whole pixel block."""
    z = (z + _SM64_GAMMA).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _dims(i: np.ndarray, n_parts: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(w, h, part) per row. The last partition's dims are shifted ~1.5×
    (the planted drift)."""
    part = i % n_parts
    base_w = 32 + (i * 2654435761 % 97) % 64  # 32..95
    base_h = 32 + (i * 40503 % 89) % 64
    shifted = part == (n_parts - 1)
    w = np.where(shifted, (base_w * 3) // 2, base_w).astype(np.int32)
    h = np.where(shifted, (base_h * 3) // 2, base_h).astype(np.int32)
    return w, h, part.astype(np.int32)


def _pixels(i: int, w: int, h: int) -> np.ndarray:
    """Reference luma plane for image i — deterministic, cheap, and
    PREFIX-STABLE: ``_pixels(i, w, r)`` equals the first r rows of
    ``_pixels(i, w, h)`` for any h ≥ r, because pixel (y, x) depends only
    on (i, y*w + x). That prefix property is what makes the sampled-PSNR
    estimator exact on whichever rows it reads (``_score_record_batch_sampled``
    evaluates the same counter for the sampled rows only)."""
    base = np.uint64((int(i) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    idx = np.arange(h * w, dtype=np.uint64) + base
    return (_splitmix64(idx) & np.uint64(0xFF)).astype(np.uint8).reshape(h, w)


def _encode(px: np.ndarray, fmt: str) -> bytes:
    """Fake codec. 'jpeg'/'webp' are 'lossy': quantize to steps of 3 —
    worst-case error 2/255 ⇒ PSNR ≈ 20·log10(255/2) ≈ 42 dB > 40 dB."""
    h, w = px.shape
    if fmt in ("jpeg", "webp"):
        px = (px // 3 * 3).astype(np.uint8)
    return MAGIC + struct.pack("<II", w, h) + px.tobytes()


def _decode(b: bytes) -> Optional[np.ndarray]:
    if b is None or len(b) < 12 or b[:4] != MAGIC:
        return None
    w, h = struct.unpack("<II", b[4:12])
    body = np.frombuffer(b, dtype=np.uint8, offset=12)
    if body.size != w * h:
        return None
    return body.reshape(h, w)


def golden_caption(i: int) -> str:
    return f"a synthetic image number {i}"


def expected_phash(i: int) -> int:
    if i % 97 == 5:
        return HOT_PHASH
    return (i * 0x9E3779B97F4A7C15) % (1 << 63)


def _gen_batch(pdf: pd.DataFrame, n_parts: int) -> pd.DataFrame:
    i = pdf["id"].to_numpy()
    w, h, part = _dims(i, n_parts)
    dup_map = {b: a for a, b in DUP_ID_PAIRS}
    ids, blobs, ws, hs, fmts, captions, phashes = [], [], [], [], [], [], []
    for k, idx in enumerate(i):
        idx = int(idx)
        # duplicate-image_id plants are FULL clones of the source row
        # (same pixels/dims/caption/phash) so only uniqueness trips, not
        # the payload invariants
        src = dup_map.get(idx, idx)
        if src != idx:
            sw, sh, _ = _dims(np.array([src]), n_parts)
            iw, ih = int(sw[0]), int(sh[0])
        else:
            iw, ih = int(w[k]), int(h[k])
        ids.append(f"img_{src:012d}")
        ws.append(iw)
        hs.append(ih)
        fmt = FMT_DOMAIN[src % 3]
        px = _pixels(src, iw, ih)
        if idx in CORRUPT_ROWS:
            # structurally valid container, garbage pixels → PSNR ≪ 40
            g = _rng(idx + 10**9)
            px_bad = g.integers(0, 256, size=px.shape, dtype=np.uint8)
            blobs.append(_encode(px_bad, fmt))
        else:
            blobs.append(_encode(px, fmt))
        if idx in NULL_FMT_ROWS:
            fmts.append(None)
        elif idx in BAD_FMT_ROWS:
            fmts.append("bmp")
        else:
            fmts.append(fmt)
        if idx in CAPTION_MISMATCH_ROWS:
            captions.append("this caption does not match the golden one")
        else:
            captions.append(golden_caption(src))
        phashes.append(expected_phash(src) - (1 << 63))  # signed int64 range
    return pd.DataFrame(
        {
            "image_id": ids,
            "bytes": blobs,
            "w": np.array(ws, dtype=np.int32),
            "h": np.array(hs, dtype=np.int32),
            "fmt": fmts,
            "caption": captions,
            "phash": np.array(phashes, dtype=np.int64),
            "part": part,
        }
    )


IMAGE_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, part int"
)


def generate_images(
    spark: SparkSession,
    n_rows: int = 10_000,
    n_parts: int = N_PARTS_DEFAULT,
    plant_violations: bool = True,
) -> DataFrame:
    """Distributed deterministic synthesis of the images table.

    ``plant_violations=False`` yields a clean table (row index offset past
    all plant sites while keeping determinism) — used for baseline
    snapshots in drift checks and for clean-path benches.
    """
    base = spark.range(0, n_rows, 1, numPartitions=min(n_parts * 4, 64))
    if not plant_violations:
        base = base.select((F.col("id") + 1_000_000_000).alias("id"))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _gen_batch(pdf, n_parts)

    return base.mapInPandas(gen, schema=IMAGE_DDL)


# ---------------------------------------------------------------------------
# payload invariants: PSNR ≥ 40 dB vs reference decode + caption equality
# (input_hint: vectorized pandas/Arrow UDFs only — no per-row Python loops
# other than the bounded per-image decode itself)
# ---------------------------------------------------------------------------

PSNR_THRESHOLD_DB = 40.0

PAYLOAD_DDL = (
    "part int, image_id string, psnr double, decode_ok boolean, "
    "caption_ok boolean"
)


def payload_check_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas reference kernel (readable; the checks run the Arrow
    scorers, and tests compare them against this): decode each blob, PSNR
    vs the reference pixels (re-derived from the row's deterministic seed
    — in a real deployment this would be the original/reference decode),
    plus caption equality.

    Arrow hands us columnar batches; numpy does the pixel math. The only
    Python-level loop is per image (unavoidable: variable-size buffers),
    and each iteration is pure numpy on the whole pixel plane.
    """
    for pdf in it:
        n = len(pdf)
        psnr = np.full(n, np.nan)
        ok = np.zeros(n, dtype=bool)
        # vectorized row-identity extraction (per-row python here costs
        # more than the pixel math at 10^6+ rows)
        row_ids = (
            pdf["image_id"].str.rsplit("_", n=1).str[-1].astype(np.int64)
        )
        blobs = pdf["bytes"].to_numpy()
        for k in range(n):
            px = _decode(blobs[k])
            if px is None:
                continue
            ok[k] = True
            # reference pixels keyed by the *row identity* encoded in
            # image_id (deterministic stand-in for a golden decode)
            ref = _pixels(int(row_ids[k]), px.shape[1], px.shape[0])
            if ref.shape != px.shape:
                ok[k] = False
                continue
            # integer MSE: int16 diff + int32 square keeps memory traffic
            # ~5x below the float64 formulation (the PSNR stage is memory-
            # bandwidth-bound at high core counts, measured in BENCH)
            diff = px.astype(np.int16)
            diff -= ref
            mse = float(np.square(diff, dtype=np.int32).mean())
            psnr[k] = np.inf if mse == 0 else 20 * np.log10(255.0) - 10 * np.log10(mse)
        golden = "a synthetic image number " + row_ids.astype(str)
        cap_ok = (pdf["caption"] == golden).fillna(False).to_numpy()
        yield pd.DataFrame(
            {
                "part": pdf["part"],
                "image_id": pdf["image_id"],
                "psnr": psnr,
                "decode_ok": ok,
                "caption_ok": cap_ok,
            }
        )


def _score_record_batch(batch):
    """Full-plane PSNR for one Arrow RecordBatch of (part, image_id,
    bytes, caption): one numpy pass per image over its whole plane.
    Zero-copy: pixel planes are numpy views into the Arrow data buffer."""
    import pyarrow as pa
    import pyarrow.compute as pc

    hdr = len(MAGIC) + 8  # magic + packed w,h
    cols = {batch.schema.names[i]: batch.column(i) for i in range(batch.num_columns)}
    blob = cols["bytes"].combine_chunks() if isinstance(cols["bytes"], pa.ChunkedArray) else cols["bytes"]
    n = len(blob)
    # Arrow binary layout: offsets int32/int64 + one contiguous data buf
    validity, off_buf, data_buf = blob.buffers()
    off_dtype = np.int64 if pa.types.is_large_binary(blob.type) else np.int32
    offs = np.frombuffer(off_buf, dtype=off_dtype, count=n + 1, offset=blob.offset * off_dtype().itemsize)
    data = np.frombuffer(data_buf, dtype=np.uint8)

    # image ids: fixed-format "img_%012d" → numeric tail, in C
    ids_arr = cols["image_id"]
    ids = pc.utf8_slice_codeunits(ids_arr, 4).cast(pa.int64())
    ids_np = ids.to_numpy(zero_copy_only=False)

    psnr = np.full(n, np.nan)
    ok = np.zeros(n, dtype=bool)
    log_max = 20 * np.log10(255.0)
    for k in range(n):
        lo, hi = int(offs[k]), int(offs[k + 1])
        if hi - lo < hdr:
            continue
        view = data[lo:hi]
        if not (view[:4] == np.frombuffer(MAGIC, np.uint8)).all():
            continue
        w = int(view[4]) | int(view[5]) << 8 | int(view[6]) << 16 | int(view[7]) << 24
        h = int(view[8]) | int(view[9]) << 8 | int(view[10]) << 16 | int(view[11]) << 24
        if hi - lo - hdr != w * h:
            continue
        ok[k] = True
        px = view[hdr:].reshape(h, w)
        ref = _pixels(int(ids_np[k]), w, h)
        diff = px.astype(np.int16)
        diff -= ref
        mse = float(np.square(diff, dtype=np.int32).mean())
        psnr[k] = np.inf if mse == 0 else log_max - 10 * np.log10(mse)

    golden = pc.binary_join_element_wise(
        pa.array(["a synthetic image number"] * n),
        pc.cast(ids, pa.string()),
        " ",
    )
    cap_ok = pc.fill_null(pc.equal(cols["caption"], golden), False)
    return pa.RecordBatch.from_arrays(
        [
            batch.column(batch.schema.get_field_index("part")).combine_chunks()
            if isinstance(cols["part"], pa.ChunkedArray) else cols["part"],
            ids_arr if not isinstance(ids_arr, pa.ChunkedArray) else ids_arr.combine_chunks(),
            pa.array(psnr, pa.float64()),
            pa.array(ok),
            cap_ok if not isinstance(cap_ok, pa.ChunkedArray) else cap_ok.combine_chunks(),
        ],
        names=["part", "image_id", "psnr", "decode_ok", "caption_ok"],
    )


def _score_record_batch_sampled(batch, sample_rows: int, only_violations: bool = False):
    """Fully VECTORIZED sampled scoring — zero per-image Python.

    PSNR over the first ``sample_rows`` pixel rows only: an
    exact-on-its-sample deterministic estimator (prefix-stable reference,
    see ``_pixels``). The planted corruptions are whole-plane garbage, so
    the estimator's violation set is identical; for the lossy-codec
    quantization noise the estimate's CI over ≥256 px is ±0.2 dB against a
    ~6 dB margin. This is the scale knob for bandwidth-bound payload scans:
    touch O(r·w) bytes per image instead of O(h·w).

    A per-image loop like the kernel above is overhead-bound once sampling
    removes the pixel math (~20 µs of small-numpy-call overhead per image,
    measured). This path does the whole batch with array programs:
    header parse + magic check as byte gathers, the ragged sample regions
    flattened into ONE index gather, ONE splitmix64 evaluation for every
    reference pixel in the batch, and per-image MSE via bincount. With
    ``sample_rows`` ≥ every image's height its scores are bit-identical to
    ``_score_record_batch`` (tests/test_image_checks.py pins this).

    ``only_violations=True`` additionally filters to failing rows INSIDE
    the kernel, so the Python→JVM exchange carries violations (rare) and
    not N scored rows — at 10^12 rows that is the difference between a
    KB-sized and a TB-sized exchange."""
    import pyarrow as pa
    import pyarrow.compute as pc

    hdr = len(MAGIC) + 8
    cols = {batch.schema.names[i]: batch.column(i) for i in range(batch.num_columns)}
    blob = cols["bytes"].combine_chunks() if isinstance(cols["bytes"], pa.ChunkedArray) else cols["bytes"]
    n = len(blob)
    _, off_buf, data_buf = blob.buffers()
    if n == 0 or off_buf is None:
        return pa.RecordBatch.from_arrays(
            [
                pa.array([], batch.schema.field("part").type),
                pa.array([], batch.schema.field("image_id").type),
                pa.array([], pa.float64()),
                pa.array([], pa.bool_()),
                pa.array([], pa.bool_()),
            ],
            names=["part", "image_id", "psnr", "decode_ok", "caption_ok"],
        )
    off_dtype = np.int64 if pa.types.is_large_binary(blob.type) else np.int32
    offs = np.frombuffer(off_buf, dtype=off_dtype, count=n + 1, offset=blob.offset * off_dtype().itemsize)
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    if len(data) == 0:
        # all blobs NULL/zero-length (ADVICE r2): a real data buffer may be
        # absent entirely; keep the clipped gathers well-defined with one
        # dummy byte — every row still fails blob_len >= hdr and masks out
        data = np.zeros(1, dtype=np.uint8)

    ids_arr = cols["image_id"]
    ids = pc.utf8_slice_codeunits(ids_arr, 4).cast(pa.int64())
    ids_np = ids.to_numpy(zero_copy_only=False)

    idx0 = offs[:-1].astype(np.int64)
    blob_len = (offs[1:] - offs[:-1]).astype(np.int64)
    limit = max(len(data) - 1, 0)

    def byte_at(rel: int) -> np.ndarray:
        # clipped gather: invalid rows read a dummy byte, masked out below
        return data[np.minimum(idx0 + rel, limit)].astype(np.int64)

    ok = blob_len >= hdr
    for j, mb in enumerate(MAGIC):
        ok &= byte_at(j) == mb
    w = byte_at(4) | byte_at(5) << 8 | byte_at(6) << 16 | byte_at(7) << 24
    h = byte_at(8) | byte_at(9) << 8 | byte_at(10) << 16 | byte_at(11) << 24
    ok &= blob_len - hdr == w * h
    r = np.minimum(sample_rows, h)
    lens = np.where(ok, r * w, 0)

    cum = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=cum[1:])
    total = int(cum[-1] + lens[-1]) if n else 0
    reps = np.repeat(np.arange(n, dtype=np.int64), lens)
    intra = np.arange(total, dtype=np.int64) - np.repeat(cum, lens)
    flat_idx = np.repeat(idx0 + hdr, lens) + intra

    px = data[flat_idx].astype(np.int16)
    bases = (ids_np.astype(np.uint64) * _SM64_GAMMA)  # modular, matches _pixels
    ctr = np.repeat(bases, lens) + intra.astype(np.uint64)
    ref = (_splitmix64(ctr) & np.uint64(0xFF)).astype(np.int16)
    px -= ref
    sq = np.square(px, dtype=np.int32)
    mse_sum = np.bincount(reps, weights=sq, minlength=n) if total else np.zeros(n)
    with np.errstate(divide="ignore", invalid="ignore"):
        mse = mse_sum / np.maximum(lens, 1)
        psnr = np.where(
            ok,
            np.where(mse == 0, np.inf, 20 * np.log10(255.0) - 10 * np.log10(mse)),
            np.nan,
        )

    golden = pc.binary_join_element_wise(
        pa.array(["a synthetic image number"] * n),
        pc.cast(ids, pa.string()),
        " ",
    )
    cap_ok_pa = pc.fill_null(pc.equal(cols["caption"], golden), False)
    cap_ok = cap_ok_pa.combine_chunks() if isinstance(cap_ok_pa, pa.ChunkedArray) else cap_ok_pa

    part = cols["part"].combine_chunks() if isinstance(cols["part"], pa.ChunkedArray) else cols["part"]
    id_out = ids_arr.combine_chunks() if isinstance(ids_arr, pa.ChunkedArray) else ids_arr
    out = pa.RecordBatch.from_arrays(
        [part, id_out, pa.array(psnr, pa.float64()), pa.array(ok), cap_ok],
        names=["part", "image_id", "psnr", "decode_ok", "caption_ok"],
    )
    if only_violations:
        bad = ~ok | (np.nan_to_num(psnr, nan=0.0) < PSNR_THRESHOLD_DB) | (
            ~cap_ok.to_numpy(zero_copy_only=False)
        )
        if not bad.any():
            return out.slice(0, 0)
        out = out.filter(pa.array(bad))
    return out


def _batch_scorer(sample_rows: Optional[int]):
    """The one scorer choice of both payload checks; each scorer wins its
    own mode (per batch, 4-core host). Full plane: the loop kernel (0.09 s
    against 0.18 s for the vectorized one at 1,024 rows/batch, 0.76 s
    against 2.17 s at 10k rows). Sampled: the vectorized kernel (8 pixel
    rows, 1,024 rows/batch: 0.014 s against 0.061 s), which also drops
    passing rows inside the kernel, so the exchange back to the JVM
    carries violations, not one score row per image."""
    if sample_rows is None:
        return _score_record_batch
    return lambda batch: _score_record_batch_sampled(
        batch, sample_rows, only_violations=True
    )


def make_payload_files_kernel(files: list, sample_rows: Optional[int] = None):
    """mapInArrow kernel factory — DIRECT-READ path: input batches carry
    ``id`` indexes into ``files``, a list the closure holds, so the file
    list reaches the tasks without a local relation or a shuffle. The
    worker opens each file with pyarrow (C++ reader) and scores its
    batches locally. The JVM⇄Python exchange then carries only file
    indexes in and scores out (KBs), taking the byte payload
    off the exchange entirely — the pattern for heavy binary columns where
    the python exchange, not the scan, is the bottleneck (measured
    ~200 MB/s machine-wide in this sandbox regardless of cores or JVM
    count).

    At cluster scale this is the same trick as Petastorm/WebDataset-style
    shard readers: data-local file reads in the python worker, Spark
    provides distribution, retry, and the surrounding relational plan.
    """
    import pyarrow.parquet as pq

    score = _batch_scorer(sample_rows)

    def kernel(it):
        for id_batch in it:
            for i in id_batch.column("id").to_pylist():
                pf = pq.ParquetFile(files[i])
                for rb in pf.iter_batches(
                    batch_size=1024, columns=["part", "image_id", "bytes", "caption"]
                ):
                    yield score(rb)

    return kernel


def check_payload_files(
    spark, table_path: str, sample_rows: Optional[int] = None
) -> DataFrame:
    """Direct-read payload check over a parquet directory: splits the file
    list into ranges of a ``spark.range`` (a few files per task — parquet
    row-groups give intra-file batching), scores in python workers,
    returns VIOLATION_SCHEMA rows (none for a directory without parquet
    files). Semantics identical to ``check_payload`` (parity-tested);
    ``sample_rows`` selects the row-sampled PSNR estimator."""
    import os as _os

    files = sorted(
        _os.path.join(table_path, f)
        for f in _os.listdir(table_path)
        if f.endswith(".parquet")
    )
    # A python task's fixed cost on a 4-core host (Python 3.11): 37-60 ms
    # once its worker has run a task, 0.22-0.33 s without worker_imports
    # (the median gap between one worker's tasks over an empty 32-task
    # mapInArrow, 3 runs of scripts/python_task_overhead.py). Files are
    # uniform writer outputs, so one task per core stays balanced: over
    # 64 files, 4 tasks scored in 0.38 s and 8 in 0.45 s. At most 16
    # files a task.
    cores = spark.sparkContext.defaultParallelism
    n_tasks = min(len(files), max(cores, -(-len(files) // 16)))
    ids = spark.range(len(files), numPartitions=max(n_tasks, 1))
    scored = ids.mapInArrow(
        make_payload_files_kernel(files, sample_rows), schema=PAYLOAD_DDL
    )
    return _payload_violations(scored)


def check_payload(images: DataFrame, sample_rows: Optional[int] = None) -> DataFrame:
    """Violation rows for the payload invariants, VIOLATION_SCHEMA-shaped.

    Projects to the needed columns *before* the UDF so Arrow ships only
    (part, image_id, bytes, caption) — w/h/fmt/phash never cross the
    Python boundary. The scorers run zero-copy in mapInArrow (~4× less
    Python-side overhead than mapInPandas on binary-heavy rows);
    ``sample_rows`` selects the row-sampled PSNR estimator."""
    score = _batch_scorer(sample_rows)

    def kernel(it):
        for batch in it:
            yield score(batch)

    projected = images.select("part", "image_id", "bytes", "caption")
    return _payload_violations(projected.mapInArrow(kernel, schema=PAYLOAD_DDL))


def _payload_violations(scored: DataFrame) -> DataFrame:
    bad = scored.filter(
        (~F.col("decode_ok"))
        | (F.col("psnr") < PSNR_THRESHOLD_DB)
        | (~F.col("caption_ok"))
    )
    from .checks.base import shape_violations

    return shape_violations(
        bad,
        check="payload_invariants",
        label="Image",
        part_col="part",
        column="bytes",
        key=F.col("image_id"),
        detail=F.concat_ws(
            "; ",
            F.when(~F.col("decode_ok"), F.lit("decode failed")),
            F.when(
                F.col("decode_ok") & (F.col("psnr") < PSNR_THRESHOLD_DB),
                F.concat(F.lit("psnr_db="), F.round("psnr", 2).cast("string")),
            ),
            F.when(~F.col("caption_ok"), F.lit("caption mismatch")),
        ),
    )
