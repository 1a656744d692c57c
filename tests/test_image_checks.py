"""End-to-end constraint validation on the synthetic image+caption table
(BASELINE.json input_hint shape; planted violations per FIXTURES.md §1).

Every expected violation set is computed from the plant constants — never
from the data — so these are true golden tests.
"""

import pytest
from pyspark.sql import functions as F

from neontology_spark.checks import (
    check_domain,
    check_required,
    check_schema,
    check_unique,
    column_stats,
    partition_row_counts,
)
from neontology_spark.checks.base import verdict_pass
from neontology_spark.images import (
    BAD_FMT_ROWS,
    CAPTION_MISMATCH_ROWS,
    CORRUPT_ROWS,
    DUP_ID_PAIRS,
    HOT_PHASH,
    NULL_FMT_ROWS,
    check_payload,
    expected_phash,
    generate_images,
    image_model,
)

N = 2_000
N_PARTS = 8


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images(spark, n_rows=N, n_parts=N_PARTS).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def model():
    return image_model()


def test_schema_conformance_clean(images, model):
    assert check_schema(images, model) == []


def test_schema_conformance_flags_extra_and_missing(images, model):
    bad = images.withColumn("surprise", F.lit(1)).drop("caption")
    v = check_schema(bad, model)
    details = {(x["column"], x["detail"].split(" (")[0]) for x in v}
    assert ("surprise", "unexpected column") in details
    assert ("caption", "missing optional column") in details
    bad2 = images.withColumn("w", F.col("w").cast("long"))
    v2 = check_schema(bad2, model)
    assert any(x["column"] == "w" and "type mismatch" in x["detail"] for x in v2)


def test_unique_image_id(images, model):
    res = check_unique(images, model, part_col="part")
    rows = res.violations.collect()
    # each planted pair contributes 2 member rows (the full collision set)
    expected_keys = {f"img_{a:012d}" for a, _ in DUP_ID_PAIRS}
    assert {r["key"] for r in rows} == expected_keys
    assert len(rows) == 2 * len(DUP_ID_PAIRS)
    assert all(r["detail"] == "duplicate key, count=2" for r in rows)


def test_unique_phash_hot_cluster(images, model):
    res = check_unique(images, model, column="phash", salted=True)
    rows = res.violations.collect()
    hot = HOT_PHASH - (1 << 63)
    n_hot = len([i for i in range(N) if i % 97 == 5])
    hot_rows = [r for r in rows if r["key"] == str(hot)]
    assert len(hot_rows) == n_hot
    # the duplicated image_ids also duplicate their phash (full clones)
    other = {r["key"] for r in rows} - {str(hot)}
    expected_other = {str(expected_phash(a) - (1 << 63)) for a, _ in DUP_ID_PAIRS}
    assert other == expected_other


def test_required_not_null(images, model):
    res = check_required(images, model, part_col="part")
    rows = res.violations.collect()
    assert {r["key"] for r in rows} == {f"img_{i:012d}" for i in NULL_FMT_ROWS}
    assert all(r["column"] == "fmt" for r in rows)


def test_value_domain(images, model):
    res = check_domain(images, model, part_col="part")
    rows = res.violations.collect()
    assert {r["key"] for r in rows} == {f"img_{i:012d}" for i in BAD_FMT_ROWS}
    assert all("bmp" in r["detail"] for r in rows)


def test_payload_invariants(images):
    rows = check_payload(images).collect()
    got = {r["key"]: r["detail"] for r in rows}
    assert set(got) == {
        f"img_{i:012d}" for i in (*CORRUPT_ROWS, *CAPTION_MISMATCH_ROWS)
    }
    for i in CORRUPT_ROWS:
        assert "psnr_db=" in got[f"img_{i:012d}"]
    for i in CAPTION_MISMATCH_ROWS:
        assert got[f"img_{i:012d}"] == "caption mismatch"


def test_lossy_codec_still_above_threshold(spark):
    """Clean table (no plants): zero payload violations — i.e. the fake
    lossy quantization stays above 40 dB, matching the invariant."""
    clean = generate_images(spark, n_rows=300, plant_violations=False)
    assert check_payload(clean).count() == 0


def test_verdicts_per_partition(images, model):
    counts = partition_row_counts(images, "part")
    res = check_required(images, model, part_col="part")
    verdicts = {r["part"]: r for r in verdict_pass([res], counts)[1].collect()}
    assert len(verdicts) == N_PARTS
    bad_parts = {i % N_PARTS for i in NULL_FMT_ROWS}
    for p, r in verdicts.items():
        assert r["passed"] == (p not in bad_parts)
        assert r["n_rows"] == N // N_PARTS
    total_viol = sum(r["n_violations"] for r in verdicts.values())
    assert total_viol == len(NULL_FMT_ROWS)


def test_global_null_part_verdict_not_false_pass(spark, images, model):
    """part=NULL is the documented global sentinel: a global check's
    violations must reach the verdict (regression: the old equi-join
    dropped NULL=NULL matches ⇒ n_violations=0/passed=True)."""
    from neontology_spark.checks.base import CheckResult, partition_row_counts, shape_violations

    two_bad = shape_violations(
        images.limit(2), check="global_check", label="Image",
        part_col=None, key=F.col("image_id"),
    )
    counts = partition_row_counts(images, None)  # single part=NULL row
    v = verdict_pass([CheckResult("global_check", "Image", two_bad)], counts)[1].collect()
    assert len(v) == 1
    assert v[0]["part"] is None
    assert v[0]["n_violations"] == 2
    assert v[0]["passed"] is False


def test_verdict_surfaces_violations_with_unknown_part(images, model):
    """Violations at a part with no row-count row (e.g. global NULL-part
    violations against per-partition counts) must surface as a failed
    verdict row, not vanish in the join."""
    from neontology_spark.checks.base import CheckResult, partition_row_counts, shape_violations

    vio = shape_violations(
        images.limit(1), check="x", label="Image", part_col=None,
    )
    counts = partition_row_counts(images, "part")  # parts 0..7, no NULL
    rows = verdict_pass([CheckResult("x", "Image", vio)], counts)[1].collect()
    null_rows = [r for r in rows if r["part"] is None]
    assert len(null_rows) == 1 and null_rows[0]["passed"] is False
    assert all(r["passed"] for r in rows if r["part"] is not None)


def test_verdict_pass_rejects_duplicate_check_names(images, model):
    """Two results sharing a (check, label) pair would merge into one
    verdict count per part; the verdict pass refuses them instead."""
    counts = partition_row_counts(images, "part")
    res = check_required(images, model, part_col="part")
    with pytest.raises(ValueError, match="required_not_null"):
        verdict_pass([res, res], counts)


def test_unique_null_key_duplicates_reported(spark, model):
    """Several NULL values in a (nullable) unique column are a duplicate
    group; the member join must be NULL-safe or they silently pass."""
    df = spark.createDataFrame(
        [("a", None), ("b", None), ("c", 7)],
        "image_id string, phash long",
    )
    res = check_unique(df, model, column="phash")
    rows = res.violations.collect()
    assert len(rows) == 2
    assert all(r["key"] is None and "count=2" in r["detail"] for r in rows)


def test_stats_profile(images):
    stats = {
        r["column"]: r
        for r in column_stats(
            images, columns=["image_id", "fmt", "w", "caption", "bytes"], exact=True
        ).collect()
    }
    assert stats["fmt"]["n_nulls"] == len(NULL_FMT_ROWS)
    assert stats["image_id"]["n_distinct"] == N - sum(1 for _ in DUP_ID_PAIRS) * 1
    assert stats["w"]["n_nulls"] == 0
    assert int(stats["w"]["min_value"]) >= 32
    # binary column: length stats only, no distinct
    assert stats["bytes"]["n_distinct"] is None
    assert int(stats["bytes"]["min_value"]) > 12


def test_metadata_checks_never_read_bytes(spark, images, model, tmp_path_factory):
    """Column pruning: the uniqueness check over a parquet-backed table
    must not read the image payload column — at 100 TB that is the
    difference between a metadata-priced scan and a full-table read."""
    path = str(tmp_path_factory.mktemp("img") / "images.parquet")
    images.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    res = check_unique(stored, model, part_col="part")
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    # every parquet scan in the plan must have a ReadSchema without `bytes`
    import re

    read_schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    assert read_schemas, plan
    assert all("bytes" not in rs for rs in read_schemas), read_schemas


def test_payload_kernels_parity(spark, images):
    """The zero-copy mapInArrow kernel behind check_payload and the pandas
    reference kernel must produce identical violation sets."""
    from neontology_spark.images import (
        PAYLOAD_DDL,
        _payload_violations,
        payload_check_batches,
    )

    a = {(r["key"], r["detail"]) for r in check_payload(images).collect()}
    scored = images.select("part", "image_id", "bytes", "caption").mapInPandas(
        payload_check_batches, PAYLOAD_DDL
    )
    p = {(r["key"], r["detail"]) for r in _payload_violations(scored).collect()}
    assert a == p and len(a) > 0


def test_payload_direct_read_parity(spark, images, tmp_path_factory):
    """check_payload_files (python workers read parquet directly) must
    equal the exchange-based check_payload on the same stored table."""
    from neontology_spark.images import check_payload_files

    path = str(tmp_path_factory.mktemp("direct") / "img.parquet")
    images.write.parquet(path)
    stored = spark.read.parquet(path)
    a = {(r["key"], r["detail"]) for r in check_payload(stored).collect()}
    d = {(r["key"], r["detail"]) for r in check_payload_files(spark, path).collect()}
    assert a == d and len(a) > 0


def test_payload_direct_read_plan_scores_every_file_once(spark, images, tmp_path_factory):
    """The file list reaches the kernel through a ``Range``, with no
    ``Exchange`` below the ``MapInArrow``. With every caption mismatched,
    each stored row is one violation, so the direct-read rows equal
    check_payload's as multisets and cover every row of every file once."""
    from collections import Counter

    from neontology_spark.images import check_payload_files

    path = str(tmp_path_factory.mktemp("plan") / "img.parquet")
    images.withColumn("caption", F.concat("caption", F.lit("!"))).repartition(6).write.parquet(
        path
    )
    stored = spark.read.parquet(path)
    direct = check_payload_files(spark, path)

    plan = direct._jdf.queryExecution().executedPlan().toString()
    below = plan[plan.index("MapInArrow"):]
    assert "Range (0, 6" in below and "Exchange" not in below

    rows = Counter((r["part"], r["key"], r["detail"]) for r in direct.collect())
    assert rows == Counter((r["part"], r["key"], r["detail"]) for r in check_payload(stored).collect())
    assert Counter(k for _, k, _ in rows.elements()) == Counter(
        r["image_id"] for r in stored.select("image_id").collect()
    )


def test_payload_direct_read_without_parquet_files(spark, tmp_path):
    """A directory with no parquet file yields zero violation rows."""
    from neontology_spark.checks.base import VIOLATION_SCHEMA
    from neontology_spark.images import check_payload_files

    (tmp_path / "_SUCCESS").write_text("")
    out = check_payload_files(spark, str(tmp_path))
    assert out.schema.simpleString() == VIOLATION_SCHEMA.simpleString()
    assert out.collect() == []


def test_label_conformance(spark, images, model):
    """Secondary-label conformance (reference neo4jengine.py:77-80 warns on
    unexpected read-back label sets; consumes NodeModel.all_labels)."""
    from neontology_spark.checks import check_labels
    from neontology_spark.models import NodeModel, Property

    m = NodeModel(
        label="Image",
        primary_property="image_id",
        properties=[Property("image_id", str)],
        secondary_labels=("Asset",),
    )
    expected = F.array(F.lit("Image"), F.lit("Asset"))
    df = images.limit(10).withColumn("labels", expected)
    # order-insensitive: reversed order conforms
    ok = df.withColumn("labels", F.array(F.lit("Asset"), F.lit("Image")))
    assert check_labels(ok, m).violations.count() == 0
    # wrong/extra/NULL label sets are violations
    bad = (
        df.limit(3).withColumn("labels", F.array(F.lit("Image")))
        .unionByName(df.limit(2).withColumn("labels", F.lit(None).cast("array<string>")))
    )
    rows = check_labels(bad, m).violations.collect()
    assert len(rows) == 5
    assert all(r["check"] == "label_conformance" for r in rows)
    assert any("unexpected label set: []" in r["detail"] for r in rows)


def test_payload_sampled_estimator_same_violations(images, tmp_path_factory, spark):
    """The row-sampled PSNR estimator must flag exactly the planted
    violation set (corruption is whole-plane; quantization margin ~6 dB
    vs a ±0.2 dB sampling CI), across both arrow kernels."""
    from neontology_spark.images import check_payload, check_payload_files

    expect = {f"img_{i:012d}" for i in (*CORRUPT_ROWS, *CAPTION_MISMATCH_ROWS)}
    got = {r["key"] for r in check_payload(images, sample_rows=8).collect()}
    assert got == expect
    path = str(tmp_path_factory.mktemp("imgs") / "t.parquet")
    images.write.parquet(path)
    got2 = {r["key"] for r in check_payload_files(spark, path, sample_rows=8).collect()}
    assert got2 == expect


def test_sampled_kernel_all_null_blobs():
    """ADVICE r2: a batch whose binary data buffer is empty (all blobs
    NULL/zero-length) must score as not-ok rows, not IndexError."""
    import pyarrow as pa

    from neontology_spark.images import _score_record_batch_sampled

    batch = pa.record_batch(
        {
            "part": pa.array([0, 1], pa.int64()),
            "image_id": pa.array(["img_000000000001", "img_000000000002"]),
            "bytes": pa.array([None, b""], pa.binary()),
            "caption": pa.array(["x", "y"]),
        }
    )
    out = _score_record_batch_sampled(batch, sample_rows=8)
    assert out.num_rows == 2
    assert out.column("decode_ok").to_pylist() == [False, False]
    vio = _score_record_batch_sampled(batch, sample_rows=8, only_violations=True)
    assert vio.num_rows == 2

    empty = batch.slice(0, 0)
    out0 = _score_record_batch_sampled(empty, sample_rows=8)
    assert out0.num_rows == 0
    assert out0.schema.names == ["part", "image_id", "psnr", "decode_ok", "caption_ok"]


def test_sampled_scorer_covering_every_row_equals_full_plane():
    """With a sample taller than every image the vectorized sampled scorer
    is the full-plane loop scorer, bit for bit: same PSNR (NaN where the
    decode fails), decode_ok and caption_ok — on a batch holding the
    planted corrupt and caption rows, and on a slice of it (non-zero Arrow
    offsets)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from neontology_spark.images import (
        _gen_batch,
        _score_record_batch,
        _score_record_batch_sampled,
    )

    pdf = _gen_batch(pd.DataFrame({"id": np.arange(64, dtype=np.int64)}), N_PARTS)
    batch = pa.RecordBatch.from_pandas(
        pdf[["part", "image_id", "bytes", "caption"]], preserve_index=False
    )
    full = _score_record_batch(batch).to_pydict()
    assert all(full["psnr"][i] < 40 for i in CORRUPT_ROWS)
    assert not any(full["caption_ok"][i] for i in CAPTION_MISMATCH_ROWS)
    for b in (batch, batch.slice(37, 20)):
        want = _score_record_batch(b)
        got = _score_record_batch_sampled(b, sample_rows=1 << 20)
        assert np.array_equal(
            got.column("psnr").to_numpy(), want.column("psnr").to_numpy(),
            equal_nan=True,
        )
        for c in ("part", "image_id", "decode_ok", "caption_ok"):
            assert got.column(c).to_pylist() == want.column(c).to_pylist(), c
