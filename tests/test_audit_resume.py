"""Checkpoint-resume tests: a partially-completed run resumes with only
the pending partitions; completed partitions are never re-processed."""

import dataclasses
import functools

import pytest
from pyspark.sql import functions as F

from neontology_spark.audit import AuditStore, ValidationRun
from neontology_spark.checks import check_required, check_unique, column_stats
from neontology_spark.images import NULL_FMT_ROWS, generate_images, image_model

N = 2_000
N_PARTS = 8


@pytest.fixture()
def setup(spark, tmp_path):
    images = generate_images(spark, n_rows=N, n_parts=N_PARTS)
    model = image_model()
    store = AuditStore(spark, str(tmp_path / "audit"))
    # uniqueness is a GLOBAL check: duplicate keys straddling a completed
    # and a pending partition must not be missed on resume
    run = ValidationRun(
        spark=spark,
        table=images,
        label="Image",
        part_col="part",
        checks=[functools.partial(check_required, model=model, part_col="part")],
        global_checks=[functools.partial(check_unique, model=model, part_col="part")],
        store=store,
        run_id="run_test_1",
        metrics_fn=lambda df: column_stats(df, columns=["w", "h", "fmt"], part_col="part"),
    )
    return images, store, run


def test_full_run_then_resume_noop(setup):
    images, store, run = setup
    v1 = run.run()
    assert v1.count() == 2 * N_PARTS  # two checks × 8 parts
    assert store.completed_parts("run_test_1", "Image") == set(range(N_PARTS))
    # resumed run: nothing pending
    v2 = run.run()
    assert v2.count() == 0
    # audit streams populated exactly once
    assert store.read("verdicts").count() == 2 * N_PARTS
    assert store.read("metrics").count() == 3 * N_PARTS
    lin = store.read("lineage")
    assert lin.count() == N_PARTS


def test_partial_completion_resumes_only_pending(setup):
    images, store, run = setup
    # simulate a crash: partitions 0-4 already completed in lineage
    store.mark_completed("run_test_1", "Image", [0, 1, 2, 3, 4])
    assert run.pending_parts() == {5, 6, 7}
    v = run.run()
    parts_processed = {r["part"] for r in v.collect()}
    # part 4 appears because the cross-partition dup group's completed-side
    # member is re-emitted (tagged late) — its failed verdict row revises
    # the completed part's earlier pass (ADVICE r2 fix)
    assert parts_processed == {4, 5, 6, 7}
    # violations recorded for pending partitions (null-fmt rows 21..23 live
    # in parts 5,6,7) plus the late completed-side dup member in part 4
    vio = store.read("violations")
    assert {r["part"] for r in vio.collect()} <= {4, 5, 6, 7}
    got_null_parts = {
        r["part"] for r in vio.filter(F.col("check") == "required_not_null").collect()
    }
    assert got_null_parts == {i % N_PARTS for i in NULL_FMT_ROWS}
    # CROSS-BOUNDARY duplicate: rows 12 (part 4, completed) and 13 (part 5,
    # pending) share an image_id. A pruned-scan uniqueness check would see
    # only the part-5 member (count 1 ⇒ no dup ⇒ silent false pass); the
    # global check scans the whole table and must report BOTH members: the
    # pending-side one normally, the completed-side one tagged late (its
    # pending partner did not exist when part 4 completed).
    dup_rows = vio.filter(F.col("check").startswith("unique")).collect()
    assert {r["part"] for r in dup_rows} == {4, 5}
    assert all(r["key"] == "img_000000000012" for r in dup_rows)
    late = [r for r in dup_rows if r["part"] == 4]
    assert len(late) == 1 and "[late" in late[0]["detail"]
    assert all("[late" not in r["detail"] for r in dup_rows if r["part"] == 5)
    # now fully complete
    assert run.pending_parts() == set()


def test_each_check_runs_once(setup, counting_check):
    """One verdict pass: the violations are materialized once, so the
    violations and verdicts appends do not each re-run a check's plan."""
    images, store, run = setup
    rows_seen, check = counting_check
    run.checks = [*run.checks, check]
    run.run()
    assert rows_seen.value == N


def test_crash_before_lineage_replays_to_one_shot_streams(spark, tmp_path, setup, monkeypatch):
    """A crash after the violations and verdicts appends but before the
    lineage marker: the resumed run re-processes every partition and
    appends identical rows, so the cleaned streams equal a one-shot
    run's (lineage is written last)."""
    images, store, run = setup

    def crash(*args, **kwargs):
        raise RuntimeError("crash before lineage")

    with monkeypatch.context() as m:
        m.setattr(AuditStore, "mark_completed", crash)
        with pytest.raises(RuntimeError, match="crash before lineage"):
            run.run()
    assert store.completed_parts("run_test_1", "Image") == set()
    run.run(resume=True)
    assert store.completed_parts("run_test_1", "Image") == set(range(N_PARTS))

    one_shot = AuditStore(spark, str(tmp_path / "one_shot"))
    dataclasses.replace(run, store=one_shot).run()
    for stream in ("violations", "verdicts"):
        want = one_shot.read_clean(stream).collect()
        # the replay appended every row twice; read_clean collapses them
        assert store.read(stream).count() == 2 * len(want)
        got = store.read_clean(stream).collect()
        assert len(got) == len(want)
        assert set(map(tuple, got)) == set(map(tuple, want))


def test_resume_false_reprocesses_everything(setup):
    images, store, run = setup
    run.run()
    v = run.run(resume=False)
    assert {r["part"] for r in v.collect()} == set(range(N_PARTS))


def test_partition_pruning_reaches_scan(spark, tmp_path, setup):
    """The pending-partition IN filter must push into the parquet scan."""
    images, store, run = setup
    path = str(tmp_path / "img.parquet")
    images.write.partitionBy("part").parquet(path)
    stored = spark.read.parquet(path)
    pruned = stored.filter(F.col("part").isin([5, 6, 7]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part" in plan

def test_cross_run_incremental_distinct_sketches(spark, tmp_path):
    """Two runs persist sketches of their own batches; the cumulative
    estimate tracks distinct(union) without rescanning either batch."""
    from pyspark.sql import functions as F

    from neontology_spark.audit import (
        AuditStore,
        append_distinct_sketches,
        cumulative_distinct_estimates,
    )

    store = AuditStore(spark, str(tmp_path / "audit_sk"))
    assert cumulative_distinct_estimates(store) is None

    b1 = spark.range(0, 500).select(F.col("id").alias("k"))
    b2 = spark.range(250, 750).select(F.col("id").alias("k"))
    append_distinct_sketches(store, "r1", b1, ["k"])
    append_distinct_sketches(store, "r2", b2, ["k"])

    total = cumulative_distinct_estimates(store).first()
    assert abs(total["n_distinct"] - 750) / 750 < 0.05
    only_r1 = cumulative_distinct_estimates(store, run_ids=["r1"]).first()
    assert abs(only_r1["n_distinct"] - 500) / 500 < 0.05


def test_read_clean_filters_crash_replay_duplicates(spark, tmp_path):
    """A crash between the violations append and the lineage marker
    re-appends identical rows on resume; read_clean must collapse them
    while read() exposes the raw stream."""
    from neontology_spark.audit import AuditStore

    store = AuditStore(spark, str(tmp_path / "audit_crash"))
    vio = spark.createDataFrame(
        [("r1", "unique", 0, "img_7"), ("r1", "unique", 1, "img_9")],
        "run_id string, check string, part long, key string",
    )
    store.append("violations", vio)
    store.append("violations", vio)  # the replayed append after a crash
    assert store.read("violations").count() == 4
    clean = store.read_clean("violations")
    assert clean.count() == 2
    assert {r["key"] for r in clean.collect()} == {"img_7", "img_9"}
