"""Incremental validation via Structured Streaming.

The reference has no streaming (SURVEY.md §2.8) — its closest analogue is
batched file import + idempotent re-merge. This module is the forward-
looking extension: validate *arriving* data incrementally instead of
re-scanning the table.

* ``incremental_validate`` — ``readStream`` over a directory (new parquet
  files = new micro-batches) → ``foreachBatch``: run the same CheckResult
  suite and verdict pass used in batch mode on each micro-batch (each
  check's plan runs once), append verdicts/violations (tagged with the
  epoch) to the audit store. foreachBatch gives
  exactly-once *per sink append* under Spark's checkpointing; the audit
  rows are idempotent on (run_id, epoch) replay.
* ``streaming_unique_violations`` — CROSS-batch uniqueness via
  ``applyInPandasWithState`` (keyed counter state): per-batch checks
  cannot see a duplicate whose copies arrive batches apart; this
  stateful operator can, and is the streaming analogue of the
  north_rule's uniqueness check.
* ``windowed_event_counts`` — watermark + tumbling-window aggregation over
  an event stream (late data handled by the watermark), the standard
  monitoring companion to drift checks.

Scale notes: each micro-batch is validated with the identical column-
pruned expressions as the batch path — streaming reuses the operators, it
doesn't fork them. State is bounded: the checks are per-batch (no
unbounded stateful op); the windowed aggregation holds only in-watermark
windows.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .audit import AuditStore
from .checks.base import CheckResult, partition_row_counts, verdict_pass


def incremental_validate(
    spark: SparkSession,
    input_path: str,
    schema: T.StructType,
    checks: Sequence[Callable[[DataFrame], CheckResult]],
    store: AuditStore,
    run_id: str,
    part_col: str = "part",
    checkpoint_dir: Optional[str] = None,
    max_files_per_trigger: int = 16,
):
    """Start a streaming query validating each arriving micro-batch.
    Returns the StreamingQuery (caller: ``q.processAllAvailable()`` for a
    synchronous drain in tests, or let it run with a trigger)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        violations, verdicts = verdict_pass(
            [check(batch_df) for check in checks],
            partition_row_counts(batch_df, part_col),
        )
        tag = [
            F.lit(run_id).alias("run_id"),
            F.lit(int(epoch_id)).alias("epoch"),
        ]
        store.append("violations", violations.select(*tag, "*"))
        store.append("verdicts", verdicts.select(*tag, "*"))

    writer = stream.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_unique_violations(
    stream_df: DataFrame,
    key_col: str,
    output_mode: str = "update",
):
    """Cross-micro-batch uniqueness: the stateful streaming analogue of
    ``checks.check_unique``. Per-batch checks (``incremental_validate``)
    cannot see a duplicate whose two rows arrive in different
    micro-batches; this operator keys state by the uniqueness key itself
    (``groupBy(key).applyInPandasWithState``) and keeps one counter per
    key, emitting a violation row whenever a key's lifetime count exceeds
    one — including the first time the SECOND copy arrives, batches
    apart.

    Returns an unstarted grouped-state DataFrame — compose with
    ``writeStream.foreachBatch``/sink as usual.

    Scale notes: state is one long per distinct key, sharded by the
    groupBy hash across executors and held in the state store (RocksDB on
    a real cluster) — the same state layout any streaming dedup uses.
    ``NoTimeout`` keeps keys forever (uniqueness is a forever property);
    pipelines that only need within-horizon uniqueness should add an
    event-time timeout to bound state. Output rows carry the lifetime
    count so downstream can distinguish "second copy" (count=2) from a
    hot key (count≫2) without rescanning.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"key string, dup_count long, new_rows long"
    )
    state_schema = "count long"

    def track(key, pdfs, state: GroupState):
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        prev = state.get[0] if state.exists else 0
        total = prev + n_new
        state.update((total,))
        if total > 1 and n_new > 0:
            # emit once per batch in which the key is (still) duplicated.
            # key[0] is passed through as-is (already a string from the
            # cast below, or None for the NULL group): str(key[0]) turned
            # NULL keys into the literal 'None', indistinguishable from a
            # real 'None' string and inconsistent with the batch check's
            # NULL-safe duplicate group (ADVICE r3)
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "dup_count": [total],
                    "new_rows": [n_new],
                }
            )

    keyed = stream_df.select(F.col(key_col).cast("string").alias("key"))
    return keyed.groupBy("key").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    group_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts over a (possibly streaming)
    events frame — late rows beyond the watermark are dropped, state is
    bounded to in-watermark windows."""
    # event-time watermarks require TIMESTAMP (not NTZ); normalize first
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            group_col,
            "n",
            "total_value",
        )
    )


def streaming_dedupe_within_watermark(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming INGEST dedup: emit each key's first arrival, drop
    re-arrivals within the event-time watermark horizon
    (``dropDuplicatesWithinWatermark``). The streaming complement of
    ``dedup.dedupe_exact_incremental``: that one dedups a batch against
    all history via the fingerprint store; this one dedups the live
    stream against a BOUNDED horizon, so state is evicted once the
    watermark passes — the standard at-least-once-source → effectively-
    once-sink pattern.

    State: one entry per distinct key seen inside the horizon, sharded
    by the groupBy hash (RocksDB state store on a cluster). Unlike
    ``streaming_unique_violations`` (NoTimeout counters, unbounded by
    design — uniqueness is a forever property), the horizon bound is
    the point: dedup state that outlives the maximum expected re-send
    window is wasted memory at 10^12-event scale."""
    keyed = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Session aggregation via ``session_window``: events of one user
    within ``gap`` (inclusive — touching windows merge) of the previous
    event share a session; a strictly longer quiet period starts a new
    one. Output: (user, session_start,
    session_end, n_events, total_value, duration_sec).

    Works identically over a batch frame (one shuffle on the user key;
    Catalyst's UpdatingSessionsExec merges windows inside each group —
    no self-join, no window-function sort over the whole table) and a
    watermarked stream (state = open sessions only). The batch
    semantics equal the classic gaps-and-islands SQL (lag + cumulative
    sum, breaking on ``ts - lag(ts) > gap``) — that formulation is the
    driver oracle; the inclusive boundary is pinned by pytest. session_start/end are
    the observed min/max event times (not the gap-padded window end, so
    the contract is engine-portable)."""
    ts = F.col(ts_col).cast("timestamp")
    return (
        events.groupBy(
            F.col(user_col), F.session_window(ts, gap).alias("_w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("total_value"),
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
        )
        .select(
            user_col,
            "session_start",
            "session_end",
            "n_events",
            "total_value",
            F.round(
                F.col("session_end").cast("double")
                - F.col("session_start").cast("double"),
                3,
            ).alias("duration_sec"),
        )
    )
