"""Structured Streaming surface (SURVEY.md §2.2 "Streaming", §7 phase 4).

The reference's async loader (ParquetArangoLoader.java:213-269) is a bounded
batch pipeline, not a stream; its true Spark analog is
``readStream`` over a growing directory -> ``foreachBatch`` into the
collection sink — each micro-batch reuses the exact batch-load path, giving
the reference's bounded in-flight behavior with checkpointed exactly-once
progress tracking (which the reference lacks: SURVEY.md §7 hard part 3).

Event-time analytics: watermarked tumbling windows over the ``events``
table schema.

Scale posture: watermark bounds state; windowed aggs shuffle on
(key, window) — the streaming state store partitions by the same
shuffle, so a 1000-executor cluster partitions state horizontally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.sources.collections import Collection
from arangodb_java_parquet_spark.sources.loader import ParquetLoader

# ---------------------------------------------------------------------------
# Crash-safe persistent-state swap, shared by the foreachBatch maintainers
# (stream_upsert_keyed, stream_incremental_rollup). Protocol:
#   write state to <dir>.new  ->  rename <dir> to <dir>.old  ->
#   rename <dir>.new to <dir> ->  rmtree <dir>.old
# A crash between the two renames leaves ".old" as the ONLY copy of the
# state; _recover_state restores it at the next batch entry. ".old" is
# cleared only while <dir> itself exists (a leftover from a crash AFTER a
# completed swap), never when it is the sole survivor.
#
# foreachBatch is at-least-once: after a crash between the swap and the
# checkpoint commit, the SAME epoch_id is redelivered. The epoch marker
# (an "_"-prefixed file Spark's parquet reader ignores) is written inside
# the new state directory BEFORE the swap, so marker and data move
# atomically; a redelivered epoch equal to the marker is skipped instead
# of re-merged (exactly-once effect for non-idempotent additive merges).
#
# The marker carries the QUERY IDENTITY alongside the epoch (ADVICE r8):
# epoch numbering restarts at 0 for every fresh checkpoint, so a bare
# epoch match would mistake the first batch of a NEW query run over
# retained state for a redelivery and silently drop it. The identity is
# the streaming-query id Spark stamps into <checkpoint>/metadata — stable
# across restarts of the same checkpoint (where redelivery can happen),
# regenerated for a fresh one (where epoch 0 is genuinely new data).
# ---------------------------------------------------------------------------

_EPOCH_MARKER = "_last_applied_epoch"


def _recover_state(state_dir: str) -> None:
    """Restore ``.old`` as the state table iff a prior crash between the
    swap renames left it as the only copy."""
    import os
    old = state_dir + ".old"
    if not os.path.isdir(state_dir) and os.path.isdir(old):
        os.rename(old, state_dir)


def _query_identity(checkpoint_dir: str) -> str:
    """Identity of the streaming query owning ``checkpoint_dir``: the
    query id Spark writes to <checkpoint>/metadata at start (JSON
    ``{"id": ...}``). Present by the time any foreachBatch runs; falls
    back to the checkpoint path if unreadable."""
    import json
    import os
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return str(json.load(fh)["id"])
    except (OSError, ValueError, KeyError):
        return os.path.abspath(checkpoint_dir)


def _last_applied(state_dir: str):
    """(query_id, epoch) recorded by the last completed swap, or None."""
    import os
    try:
        with open(os.path.join(state_dir, _EPOCH_MARKER)) as fh:
            qid, epoch = fh.read().splitlines()[:2]
            return qid, int(epoch)
    except (OSError, ValueError, IndexError):
        return None


def _skip_redelivered(state_dir: str, query_id: str, epoch_id: int) -> bool:
    """True iff (query_id, epoch_id) matches the marker — an at-least-once
    redelivery of an already-applied batch. Clears a stale ``.old`` left by
    a crash after the completed swap (provably stale here: state_dir
    exists and carries the marker, so ``.old`` is the superseded copy)."""
    import os
    import shutil
    if _last_applied(state_dir) == (query_id, epoch_id):
        old = state_dir + ".old"
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        return True
    return False


def _swap_state(state_dir: str, tmp: str, epoch_id: int,
                query_id: str = "") -> None:
    """Atomically replace ``state_dir`` with ``tmp`` (already written),
    stamping (query_id, epoch_id) inside ``tmp`` first so the marker
    travels with the data through the rename."""
    import os
    import shutil
    with open(os.path.join(tmp, _EPOCH_MARKER), "w") as fh:
        fh.write(f"{query_id}\n{epoch_id}")
    old = state_dir + ".old"
    if os.path.isdir(state_dir):
        # stale .old can only exist here if a PREVIOUS swap completed but
        # crashed before its cleanup — safe to clear (state_dir is current)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(state_dir, old)
    try:
        os.rename(tmp, state_dir)
    except OSError:
        # second rename failed in-process: restore the previous state table
        # rather than leaving NO state_dir at all
        if not os.path.isdir(state_dir) and os.path.isdir(old):
            os.rename(old, state_dir)
        raise
    shutil.rmtree(old, ignore_errors=True)


def ordered_file_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """A parquet file stream over the directory ``path`` that takes ONE
    file per micro-batch, in discovery order (maxFilesPerTrigger=1). The
    multi-batch drives need it: watermarks, upserts and additive merges
    advance between files, which one all-files batch would not show."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(path))


def stream_load_to_collection(spark: SparkSession, path: str,
                              collection: Collection, *,
                              schema, checkpoint_dir: str,
                              batch_size: int = 1000):
    """Load the parquet files under ``path`` into a document collection
    (streaming generalization of ParquetLoader.load, in its default
    ``spark`` encode mode).

    Returns the started StreamingQuery, an availableNow drain: it loads
    every file present when it starts, then stops.
    """
    loader = ParquetLoader(spark)
    collection.ensure()

    stream = (spark.readStream.schema(schema).parquet(path))

    def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
        loader.load_dataframe(batch_df, collection, batch_size=batch_size)

    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink_batch)
            .trigger(availableNow=True)
            .start())


def stream_upsert_keyed(spark: SparkSession, path: str, *, schema,
                        state_dir: str, checkpoint_dir: str):
    """Streaming MERGE/upsert into a parquet table keyed by ``user_id``
    (the Delta-style ``MERGE WHEN MATCHED UPDATE`` loop, built from
    primitives): each micro-batch reduces to its newest row per key by
    (ts, event_id), merges it last-write-wins against the accumulated
    state table, and atomically swaps the state directory (write to
    ``.new``, rename over) — the self-overwrite-safe pattern for a table
    that is both read and replaced per batch.

    IDEMPOTENT under redelivery by construction: last-write-wins on
    (ts desc, event_id desc) makes reprocessing a batch a no-op, which is
    the property an at-least-once source needs (the drive in
    queries/advanced2.py feeds the same file twice through two
    micro-batches and still matches the one-copy oracle).

    Scale: per batch one shuffle on the key for the rank, one
    key-partitioned merge; state carries ONE row per key (dimension-table
    sized). At production scale state_dir would be a partitioned table
    with dynamic partition overwrite rather than a whole-directory swap.
    """
    import os

    from pyspark.sql import Window as W

    def latest_per_key(df: DataFrame) -> DataFrame:
        return (df.withColumn(
            "__rn", F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("ts"),
                                                 F.desc("event_id"))))
            .filter(F.col("__rn") == 1).drop("__rn"))

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _recover_state(state_dir)
        qid = _query_identity(checkpoint_dir)
        if _skip_redelivered(state_dir, qid, epoch_id):
            return  # at-least-once redelivery of an already-applied batch
        best = latest_per_key(batch_df)
        if os.path.isdir(state_dir):
            cur = spark.read.parquet(state_dir)
            best = latest_per_key(cur.unionByName(best))
        tmp = state_dir + ".new"
        best.write.mode("overwrite").parquet(tmp)
        _swap_state(state_dir, tmp, epoch_id, qid)

    return (ordered_file_stream(spark, path, schema)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def event_time_ltz(events: DataFrame) -> DataFrame:
    """Normalize the event-time column ``ts`` to TIMESTAMP (LTZ) — the only
    type watermarks accept. Handles both testdata generations: legacy
    TIMESTAMP(NANOS) read as long (nanosAsLong) converts via integer-exact
    micros; TIMESTAMP_NTZ reads cast losslessly under a pinned-UTC session.
    """
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)"))
    return events.withColumn("ts", F.col("ts").cast("timestamp"))


# the tumbling window of windowed_event_counts
EVENT_WINDOW = "1 hour"


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """EVENT_WINDOW tumbling-window counts per event_type under a
    10-minute watermark;
    works on both a streaming and a batch events DataFrame (same plan,
    incremental vs full).
    """
    # watermarks need TIMESTAMP (LTZ); NTZ inputs cast losslessly under the
    # pinned-UTC session
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (events
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", EVENT_WINDOW).start.alias("win_start"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(30,8)")).cast("double")
                 .alias("sum_value")))


def stateful_user_counters(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user lifetime counters (events seen, value sum) maintained across
    micro-batches in the state store, emitting the updated totals each
    batch.

    This is the template for operators Spark lacks natively (per-key model
    state, dedup-within-key, custom sessionization): state is a tuple per
    key, partitioned by the groupBy shuffle, checkpointed with the query.

    Determinism: the running sum is accumulated as an EXACT decimal
    (each double quantized to 8 decimal places, summed without float
    error, state-stored as the scaled integer) so the final totals are
    independent of micro-batch boundaries and bit-equal to a decimal SQL
    aggregation — which makes even this stateful operator oracle-checkable.
    """
    import pandas as pd  # executor-side import

    from arangodb_java_parquet_spark.shipping import ensure_package_shipped
    ensure_package_shipped(events.sparkSession)

    SCALE = 10 ** 8

    def update(key, pdfs, state):
        from decimal import ROUND_HALF_EVEN, Decimal
        n, total_scaled = state.get() if state.exists else (0, 0)
        q = Decimal(1).scaleb(-8)
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value"]:
                d = Decimal(repr(float(v))).quantize(q, ROUND_HALF_EVEN)
                total_scaled += int(d * SCALE)
        state.update((n, total_scaled))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [float(total_scaled) / SCALE]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_events long, sum_value double",
                stateStructType="n long, total long",
                outputMode="update",
                timeoutConf="NoTimeout"))


# the event-time interval of stream_interval_join
JOIN_WITHIN = "30 minutes"


def stream_interval_join(left: DataFrame, right: DataFrame, *,
                         left_key: str, right_key: str,
                         left_time: str, right_time: str,
                         how: str) -> DataFrame:
    """Stream-stream join on a key with a bounded event-time interval:
    right rows within ``[left_time, left_time + JOIN_WITHIN]``.

    Both inputs must already carry watermarks (callers own the delay
    choice); the time-range condition is what lets Spark bound join state
    on BOTH sides — without it, state grows forever. Supports ``inner``
    and the outer variants (``left_outer``/``right_outer``/``full_outer``):
    unmatched outer rows are emitted only after the GLOBAL watermark (the
    minimum across both sides — spark.sql.streaming.multipleWatermarkPolicy)
    passes their join window, in a subsequent micro-batch. A drained
    availableNow run therefore reports matches immediately but holds
    late-window unmatched rows in state until a later run's watermark
    releases them — exactly-once across restarts via the checkpoint
    (tests/test_streaming.py drives this two-run shape).

    Scale: state is hash-partitioned by the join key (the same shuffle as
    the join), watermark-bounded on both sides — a 1000-executor cluster
    holds only the active window per key.
    """
    cond = ((F.col(left_key) == F.col(right_key))
            & (F.col(right_time) >= F.col(left_time))
            & (F.col(right_time)
               <= F.col(left_time) + F.expr(f"INTERVAL {JOIN_WITHIN}")))
    return left.join(right, cond, how)


def stream_incremental_rollup(spark, path: str, *, schema,
                              state_dir: str, checkpoint_dir: str):
    """Incremental MATERIALIZED-AGGREGATE maintenance: each micro-batch's
    (day, event_type) partials — COUNT and an exact DECIMAL sum — are
    MERGED into a persistent rollup table by adding partials, never
    re-reading history. This is incremental view maintenance for
    decomposable aggregates (the streaming twin of rollup_cascade_daily's
    batch cascade): correctness rests on the file source's exactly-once
    file tracking (each input file contributes to exactly one batch), the
    algebraic merge, AND the per-epoch marker swapped atomically with the
    state (foreachBatch is only at-least-once — a batch redelivered after
    a crash between swap and checkpoint commit is detected by its epoch_id
    and skipped rather than double-added). The oracle proves the maintained
    table hash-equals a full recompute.

    Scale: per batch one combinable aggregation over the new files plus a
    merge keyed by (day, type) against a table whose size is the rollup
    grain, not the event volume. The swap reuses the crash-safe rename
    protocol of stream_upsert_keyed.
    """
    import os

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _recover_state(state_dir)
        qid = _query_identity(checkpoint_dir)
        if _skip_redelivered(state_dir, qid, epoch_id):
            # foreachBatch is at-least-once; the additive merge is NOT
            # idempotent, so a redelivered (query, epoch) must be skipped,
            # not re-added (the marker swaps atomically with the data). A
            # DIFFERENT query id at the same epoch is a fresh checkpoint
            # over retained state — genuinely new data, merged normally.
            return
        part = (event_time_ltz(batch_df)
                .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"),
                         "event_type")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                     F.sum(F.col("value").cast("decimal(30,8)"))
                     .cast("decimal(30,8)").alias("sum_value")))
        if os.path.isdir(state_dir):
            cur = spark.read.parquet(state_dir)
            part = (cur.unionByName(part)
                    .groupBy("day", "event_type")
                    .agg(F.sum("n_events").cast("bigint").alias("n_events"),
                         F.sum("sum_value").cast("decimal(30,8)")
                         .alias("sum_value")))
        tmp = state_dir + ".new"
        part.write.mode("overwrite").parquet(tmp)
        _swap_state(state_dir, tmp, epoch_id, qid)

    return (ordered_file_stream(spark, path, schema)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())
