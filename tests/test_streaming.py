"""Structured Streaming incremental validation tests (memory-sink /
processAllAvailable pattern for synchronous micro-batch drains)."""

import functools

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neontology_spark.audit import AuditStore
from neontology_spark.checks import check_required, check_unique
from neontology_spark.images import generate_images, image_model
from neontology_spark.streaming import incremental_validate, windowed_event_counts


def test_incremental_validate(spark, tmp_path):
    images = generate_images(spark, n_rows=1_000, n_parts=4)
    inp = str(tmp_path / "incoming")
    # two "arrivals"
    images.filter(F.col("part") < 2).write.mode("append").parquet(inp)
    images.filter(F.col("part") >= 2).write.mode("append").parquet(inp)

    model = image_model()
    store = AuditStore(spark, str(tmp_path / "audit"))
    q = incremental_validate(
        spark,
        inp,
        schema=spark.read.parquet(inp).schema,
        checks=[
            functools.partial(check_unique, model=model, part_col="part"),
            functools.partial(check_required, model=model, part_col="part"),
        ],
        store=store,
        run_id="stream1",
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    verdicts = store.read("verdicts")
    assert verdicts is not None
    assert {"run_id", "epoch", "part", "check", "passed"} <= set(verdicts.columns)
    # all 4 parts validated across the epochs, both checks
    assert (
        verdicts.select("part", "check").distinct().count() == 8
    )
    vio = store.read("violations")
    # planted NULL fmt rows (21,22,23) live in parts 1,2,3 of 4
    assert vio.filter(F.col("check") == "required_not_null").count() == 3


def test_incremental_validate_runs_each_check_once(spark, tmp_path, counting_check):
    """One micro-batch: each check's plan runs once across the violations
    and verdicts appends."""
    images = generate_images(spark, n_rows=400, n_parts=4)
    inp = str(tmp_path / "incoming")
    images.write.parquet(inp)
    rows_seen, check = counting_check
    store = AuditStore(spark, str(tmp_path / "audit"))
    q = incremental_validate(
        spark,
        inp,
        schema=spark.read.parquet(inp).schema,
        checks=[check],
        store=store,
        run_id="stream_once",
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=10_000,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    verdicts = store.read("verdicts")
    assert verdicts.select("epoch").distinct().count() == 1
    assert verdicts.count() == 4
    assert rows_seen.value == 400


def test_windowed_event_counts_batch_parity(spark, sf_dir):
    """The windowed aggregation is testable on a batch frame (same plan)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(events, window="1 hour", watermark="2 hours")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["window_end"] > r["window_start"] for r in rows)
    total = sum(r["n"] for r in rows)
    assert total == events.filter(F.col("ts").isNotNull()).count()


def test_windowed_event_counts_streaming(spark, sf_dir, tmp_path):
    """Same aggregation through an actual streaming query (memory sink)."""
    # streaming file source needs a directory
    src_dir = str(tmp_path / "events_dir")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch.write.parquet(src_dir)
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.sql("SELECT count(*) AS n FROM win_counts").collect()[0]["n"]
    # append mode emits only watermark-closed windows; at least most close
    assert n > 0


def test_streaming_unique_cross_batch(spark, tmp_path):
    """A duplicate whose copies arrive in DIFFERENT micro-batches must be
    caught — the stateful cross-batch path per-batch checks cannot see."""
    from neontology_spark.streaming import streaming_unique_violations

    inp = str(tmp_path / "uniq_in")
    # batch 1: keys a,b,c (unique so far). batch 2: b again (+ d, and an
    # in-batch dup e,e)
    spark.createDataFrame(
        [("a",), ("b",), ("c",)], "k string"
    ).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "100")
        .parquet(inp)
    )
    out = streaming_unique_violations(stream, "k")
    q = (
        out.writeStream.format("memory")
        .queryName("uniq_violations")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "uniq_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM uniq_violations").count() == 0

        spark.createDataFrame(
            [("b",), ("d",), ("e",), ("e",)], "k string"
        ).write.mode("append").parquet(inp)
        q.processAllAvailable()
        rows = {
            r["key"]: r for r in spark.sql("SELECT * FROM uniq_violations").collect()
        }
        # cross-batch dup: b seen once in batch 1 + once in batch 2
        assert rows["b"]["dup_count"] == 2 and rows["b"]["new_rows"] == 1
        # in-batch dup: e twice within batch 2
        assert rows["e"]["dup_count"] == 2 and rows["e"]["new_rows"] == 2
        assert "a" not in rows and "d" not in rows
    finally:
        q.stop()


def test_incremental_drift_check(spark, tmp_path):
    """Drift wired into the streaming path: each micro-batch's histogram
    compared against a fixed clean baseline — a shifted batch must fail
    its drift verdict while the clean batch passes."""
    import functools

    from neontology_spark.checks.drift import (
        check_drift,
        drift_metrics,
        numeric_histogram,
    )

    edges = [0.0, 16, 32, 48, 64, 80, 96, 112, 128, 160]
    clean = generate_images(spark, n_rows=1_000, n_parts=4, plant_violations=False)
    base_hist = numeric_histogram(clean.filter(F.col("part") < 3), "w", edges)

    def drift_check(df):
        return check_drift(
            drift_metrics(
                base_hist, numeric_histogram(df, "w", edges, part_col="part")
            ),
            label="Image",
        )

    inp = str(tmp_path / "drift_in")
    # arrival 1: clean parts 0-2; arrival 2: part 3 (the intentionally
    # shifted distribution in generate_images)
    imgs = generate_images(spark, n_rows=1_000, n_parts=4)
    imgs.filter(F.col("part") < 3).write.mode("append").parquet(inp)
    imgs.filter(F.col("part") == 3).write.mode("append").parquet(inp)

    store = AuditStore(spark, str(tmp_path / "drift_audit"))
    q = incremental_validate(
        spark,
        inp,
        schema=spark.read.parquet(inp).schema,
        checks=[drift_check],
        store=store,
        run_id="drift_stream",
        checkpoint_dir=str(tmp_path / "drift_ckpt"),
        max_files_per_trigger=8,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    verdicts = store.read("verdicts").filter(
        F.col("check") == "distribution_drift"
    )
    by_part = {r["part"]: r["passed"] for r in verdicts.collect()}
    assert by_part[3] is False  # shifted partition flagged
    assert any(v for p, v in by_part.items() if p != 3)  # clean parts pass


def test_streaming_dedupe_within_watermark(spark, tmp_path):
    """First arrival of each key is emitted; re-arrivals inside the
    watermark horizon are dropped — including across micro-batches."""
    from neontology_spark.streaming import streaming_dedupe_within_watermark

    inp = str(tmp_path / "dedup_in")
    spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("b", "2024-01-01 10:00:10"),
         ("a", "2024-01-01 10:00:20")],       # in-batch re-arrival
        "k string, ts string",
    ).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema("k string, ts string")
        .option("maxFilesPerTrigger", "100")
        .parquet(inp)
    )
    out = streaming_dedupe_within_watermark(stream, ["k"], "ts", "1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a again (cross-batch, inside horizon) + new key c
        spark.createDataFrame(
            [("a", "2024-01-01 10:05:00"), ("c", "2024-01-01 10:05:30")],
            "k string, ts string",
        ).write.mode("append").parquet(inp)
        q.processAllAvailable()
        keys = sorted(
            r["k"] for r in spark.sql("SELECT * FROM dedup_wm").collect()
        )
        assert keys == ["a", "b", "c"]  # each key exactly once
    finally:
        q.stop()


def test_streaming_dedupe_restart_from_checkpoint(spark, tmp_path):
    """Kill/restart resilience (VERDICT r4 #7): stop the watermark-dedup
    query, let new data arrive while it is down, restart from the SAME
    checkpoint dir into a file sink — every key is emitted exactly once
    across the two runs (no drops, no duplicated emissions). The file
    sink + checkpoint pair is Spark's exactly-once contract; this test
    pins that our operator composes with it."""
    from neontology_spark.streaming import streaming_dedupe_within_watermark

    inp = str(tmp_path / "rs_in")
    outp = str(tmp_path / "rs_out")
    ckpt = str(tmp_path / "rs_ckpt")
    spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("b", "2024-01-01 10:00:10"),
         ("a", "2024-01-01 10:00:20")],
        "k string, ts string",
    ).write.mode("append").parquet(inp)

    def start():
        stream = (
            spark.readStream.schema("k string, ts string")
            .option("maxFilesPerTrigger", "100")
            .parquet(inp)
        )
        out = streaming_dedupe_within_watermark(stream, ["k"], "ts", "1 hour")
        return (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # simulated crash/redeploy between micro-batches

    # arrivals while the query is down: a cross-batch re-send (must stay
    # dropped after restart — the dedup state survives via checkpoint)
    # and a genuinely new key
    spark.createDataFrame(
        [("a", "2024-01-01 10:05:00"), ("c", "2024-01-01 10:05:30"),
         ("b", "2024-01-01 10:06:00")],
        "k string, ts string",
    ).write.mode("append").parquet(inp)

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(outp).collect()
    keys = sorted(r["k"] for r in rows)
    assert keys == ["a", "b", "c"]  # exactly once each, across runs


def test_incremental_validate_restart_resumes_epochs(spark, tmp_path):
    """incremental_validate restarted from its checkpoint must pick up
    only files that arrived while it was down — already-validated
    batches are not re-validated (no duplicate verdict rows), and the
    resumed run continues the epoch sequence."""
    images = generate_images(spark, n_rows=1_000, n_parts=4)
    inp = str(tmp_path / "iv_in")
    store = AuditStore(spark, str(tmp_path / "iv_audit"))
    model = image_model()

    def start():
        return incremental_validate(
            spark,
            inp,
            schema=images.schema,
            checks=[
                functools.partial(check_required, model=model, part_col="part"),
            ],
            store=store,
            run_id="restart1",
            checkpoint_dir=str(tmp_path / "iv_ckpt"),
            max_files_per_trigger=100,
        )

    images.filter(F.col("part") < 2).write.mode("append").parquet(inp)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = store.read("verdicts").count()
    assert n_first > 0

    images.filter(F.col("part") >= 2).write.mode("append").parquet(inp)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    verdicts = store.read_clean("verdicts")
    # every part validated exactly once — restart neither re-validated
    # batch-1 files (would duplicate part 0/1 verdict rows) nor skipped
    # the files that arrived during downtime
    per_part = verdicts.groupBy("part", "check").count().collect()
    assert sorted(r["part"] for r in per_part) == [0, 1, 2, 3]
    assert all(r["count"] == 1 for r in per_part)
    # epoch sequence continued (fresh epoch for the post-restart batch)
    assert verdicts.select("epoch").distinct().count() == 2


def test_sessionize_gap_boundary_semantics(spark):
    """Pin the boundary rule the oracle asserts only statistically: an
    event arriving exactly `gap` after the previous one still EXTENDS
    the session (Spark merges touching [t, t+gap) windows — verified
    here); one microsecond beyond starts a new one. The driver oracle
    SQL therefore breaks on `> gap`, not `>= gap`. Plus scan pruning:
    only (ts, user_id, value) reach the scan."""
    from neontology_spark.streaming import sessionize

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (1, "2024-01-01 10:10:00", 2.0),         # exactly gap → MERGES
            (1, "2024-01-01 10:20:00", 4.0),         # exactly gap again
            (1, "2024-01-01 10:30:00.000001", 8.0),  # 1 µs beyond → NEW
            (2, "2024-01-01 10:00:00", 1.0),
        ],
        "user_id long, ts string, value double",
    )
    got = sessionize(ev, gap="10 minutes").orderBy(
        "user_id", "session_start"
    ).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    first, second = by_user[1]
    assert first["n_events"] == 3 and first["total_value"] == 7.0
    assert second["n_events"] == 1 and second["total_value"] == 8.0
    assert len(by_user[2]) == 1 and by_user[2][0]["duration_sec"] == 0.0

    # column pruning: the parquet-free local relation still shows the
    # projected schema; assert against a real scan via the events table
    import os
    sf = os.environ["SPARK_GRAFT_SF_DIR"]
    real = sessionize(spark.read.parquet(f"{sf}/events.parquet"))
    plan = real._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "ts" in scan and "user_id" in scan and "value" in scan
    assert "props" not in scan and "event_id" not in scan
