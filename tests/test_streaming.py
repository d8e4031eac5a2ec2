"""Structured-streaming tests: file-stream ingest into a collection sink
(the reference async loader's true Spark analog) and windowed event-time
aggregation driven to completion with availableNow."""

import shutil

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.sources import LocalCollection
from arangodb_java_parquet_spark.streaming.ingest import (
    stream_load_to_collection, windowed_event_counts)


def test_stream_load_to_collection(spark, sf_dir, tmp_path):
    src = str(tmp_path / "incoming")
    # stage the parquet file into a stream-watched directory
    import os
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/nation.parquet", f"{src}/nation.parquet")
    schema = spark.read.parquet(f"{sf_dir}/nation.parquet").schema
    col = LocalCollection(str(tmp_path), "stream_docs")
    q = stream_load_to_collection(
        spark, src, col, schema=schema,
        checkpoint_dir=str(tmp_path / "ckpt"), batch_size=7)
    q.awaitTermination()
    assert col.count() == 25
    # second file appears -> only the delta is ingested (checkpointing)
    shutil.copy(f"{sf_dir}/region.parquet", f"{src}/region.parquet")
    q = stream_load_to_collection(
        spark, src, col, schema=schema,
        checkpoint_dir=str(tmp_path / "ckpt"), batch_size=7)
    q.awaitTermination()
    assert col.count() == 30  # 25 nations + 5 regions, no re-ingest


def test_windowed_event_counts_streaming_matches_batch(spark, sf_dir):
    from arangodb_java_parquet_spark.queries.common import t
    events = t(spark, sf_dir, "events")
    batch = windowed_event_counts(events)

    from arangodb_java_parquet_spark.queries import QUERIES
    streamed = QUERIES["stream_windowed_counts"](spark, sf_dir)
    b = {tuple(r[:2]): r[2] for r in
         batch.select("win_start", "event_type", "n_events").collect()}
    s = {tuple(r[:2]): r[2] for r in
         streamed.select("win_start", "event_type", "n_events").collect()}
    assert b == s and len(b) > 0


def test_stream_static_broadcast_join(spark, sf_dir, tmp_path):
    """Stream-static join: streaming events enriched with the static
    customer dimension (broadcast per micro-batch — the streaming
    dimension-lookup pattern)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    enriched = stream.join(F.broadcast(cust),
                           stream.user_id == cust.c_custkey, "left")
    q = (enriched.select("event_id", "user_id", "c_mktsegment")
         .writeStream.outputMode("append").format("memory")
         .queryName("enriched_out")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("enriched_out")
    assert got.count() == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # every matched user carries its segment; user_ids exist in customer
    assert got.filter("c_mktsegment IS NULL").count() == 0


def test_stream_stream_join_with_watermarks(spark, sf_dir, tmp_path):
    """Stream-stream inner join: clicks ⋈ purchases per user within a
    time bound, both sides watermarked (state eviction) — the hardest
    Structured Streaming join shape, verified against the batch result."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def stream_side(etype, alias_prefix):
        from arangodb_java_parquet_spark.streaming.ingest import (
            event_time_ltz)
        s = (event_time_ltz(
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
             .filter(F.col("event_type") == etype)
             .withWatermark("ts", "1 hour"))
        return s.select(F.col("user_id").alias(f"{alias_prefix}_user"),
                        F.col("ts").alias(f"{alias_prefix}_ts"),
                        F.col("event_id").alias(f"{alias_prefix}_id"))

    clicks = stream_side("click", "c")
    purchases = stream_side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")))
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ss_join")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("ss_join").count()

    # batch ground truth on the same condition
    from arangodb_java_parquet_spark.queries.common import t
    e = t(spark, sf_dir, "events")
    c = (e.filter("event_type = 'click'")
         .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")))
    p = (e.filter("event_type = 'purchase'")
         .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")))
    expected = c.join(
        p, (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    ).count()
    assert got == expected and got > 0


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: unmatched left rows are emitted with
    NULL right columns once the global watermark passes their join window.

    The drive is two availableNow runs over a shared checkpoint: run 1
    sees a matched click/purchase pair and an unmatched click; run 2 adds
    far-future rows on BOTH sides (the global watermark is the min across
    sides) which releases the held unmatched row from state."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.streaming.ingest import (
        stream_interval_join)

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck_sslo")
    t0 = dt.datetime(2024, 1, 1)

    def write(path, rows):
        pq.write_table(pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "kind": pa.array([r[2] for r in rows]),
            "eid": pa.array([r[3] for r in rows], pa.int64())}), path)

    def drive():
        schema = "user_id long, ts timestamp, kind string, eid long"
        stream = spark.readStream.schema(schema).parquet(str(src))
        clicks = (stream.filter("kind = 'click'")
                  .withWatermark("ts", "1 hour")
                  .select(F.col("user_id").alias("c_user"),
                          F.col("ts").alias("c_ts"),
                          F.col("eid").alias("c_id")))
        purchases = (stream.filter("kind = 'purchase'")
                     .withWatermark("ts", "1 hour")
                     .select(F.col("user_id").alias("p_user"),
                             F.col("ts").alias("p_ts"),
                             F.col("eid").alias("p_id")))
        joined = stream_interval_join(
            clicks, purchases, left_key="c_user", right_key="p_user",
            left_time="c_ts", right_time="p_ts",
            how="left_outer")
        q = (joined.writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    write(src / "f1.parquet", [
        (1, t0, "click", 1),
        (1, t0 + dt.timedelta(minutes=10), "purchase", 2),  # match for 1
        (2, t0, "click", 3),                                # never matched
    ])
    drive()
    got1 = {(r.c_id, r.p_id) for r in spark.read.parquet(out).collect()}
    assert got1 == {(1, 2)}  # unmatched row still held in state

    d10 = t0 + dt.timedelta(days=10)
    write(src / "f2.parquet", [(9, d10, "click", 4),
                               (9, d10, "purchase", 5)])
    drive()
    got2 = {(r.c_id, r.p_id) for r in spark.read.parquet(out).collect()}
    # watermark passed click 3's window -> emitted with NULL right side
    assert got2 == {(1, 2), (3, None), (4, 5)}
    null_row = [r for r in spark.read.parquet(out).collect()
                if r.c_id == 3][0]
    assert null_row.p_user is None and null_row.p_ts is None


def test_checkpoint_restart_processes_only_new_files(spark, sf_dir,
                                                     tmp_path):
    """Operational resilience: a file-stream query stopped and RESTARTED
    from the same checkpoint must process exactly the files that arrived
    while it was down — no reprocessing (the checkpoint's file log is the
    source of truth), no loss."""
    import os
    import shutil

    from arangodb_java_parquet_spark.streaming.ingest import event_time_ltz
    src = str(tmp_path / "in")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{src}/a.parquet").schema
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    n_one = spark.read.parquet(f"{src}/a.parquet").count()

    def drive():
        stream = event_time_ltz(
            spark.readStream.schema(schema).parquet(src))
        q = (stream.select("event_id", "user_id")
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(out).count()

    assert drive() == n_one
    # new file lands while the query is down; restart from the checkpoint
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/b.parquet")
    # the checkpointed file log must deliver ONLY b.parquet on restart:
    # cumulative output is exactly 2x one file, not 3x (no reprocessing)
    assert drive() == 2 * n_one


def test_watermark_drops_late_rows_in_append(spark, tmp_path):
    """Watermark semantics proof: in append mode a window only EMITS once
    the watermark passes it, and data arriving after that is DROPPED. Two
    availableNow drives over a shared checkpoint: batch 1 sets the
    watermark far past window W; batch 2 delivers a late row inside W.
    The emitted count for W must come from batch 1 alone."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "late_src"
    src.mkdir()
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ck")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write(name, rows):
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows],
                           pa.timestamp("us")),
        }), str(src / name))

    # batch 1: two rows in window W=[00:00,01:00) + one far-future row
    # that pushes the watermark (10 min delay) way past W's end
    write("a.parquet", [(1, base), (2, base + dt.timedelta(minutes=30)),
                        (3, base + dt.timedelta(days=2))])

    def drive():
        s = (spark.readStream
             .schema("event_id LONG, ts TIMESTAMP_NTZ").parquet(str(src))
             .withColumn("ts", F.col("ts").cast("timestamp")))
        q = (s.withWatermark("ts", "10 minutes")
             # append-mode aggs must group by the WINDOW column itself --
             # grouping by .start severs the watermark association
             .groupBy(F.window("ts", "1 hour"))
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.col("window.start").alias("win_start"), "n")
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["win_start"]: r["n"]
                for r in spark.read.parquet(out).collect()}

    got1 = drive()
    w_start = [k for k in got1 if k.year == 2024 and k.day == 1
               and k.hour == 0]
    assert w_start and got1[w_start[0]] == 2  # W emitted with both rows
    # batch 2: a LATE row inside W (watermark is now ~2 days ahead)
    write("b.parquet", [(4, base + dt.timedelta(minutes=45))])
    got2 = drive()
    # W's count is unchanged: the late row was dropped, not re-emitted
    assert got2[w_start[0]] == 2


def test_stream_upsert_keyed_multibatch_evolution(spark, tmp_path):
    """Two DIFFERENT files through stream_upsert_keyed: batch 2's newer
    rows must overwrite batch 1's state per key, older redelivered rows
    must NOT (last-write-wins), and new keys insert."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from arangodb_java_parquet_spark.streaming.ingest import (
        stream_upsert_keyed)

    src = tmp_path / "in"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def write(name, rows):
        pq.write_table(pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "event_id": pa.array([r[2] for r in rows], pa.int64()),
            "val": pa.array([r[3] for r in rows])}), str(src / name))

    write("b1.parquet", [
        (1, t0, 10, "a"),
        (2, t0, 11, "b"),
    ])
    write("b2.parquet", [
        (1, t0 + dt.timedelta(hours=1), 12, "a2"),   # newer: overwrites
        (2, t0 - dt.timedelta(hours=1), 9, "stale"),  # older: ignored
        (3, t0, 13, "c"),                             # new key: insert
    ])
    schema = "user_id long, ts timestamp, event_id long, val string"
    q = stream_upsert_keyed(
        spark, str(src), schema=schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination()
    got = {r.user_id: (r.event_id, r.val)
           for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    assert got == {1: (12, "a2"), 2: (11, "b"), 3: (13, "c")}


def test_swap_state_crash_recovery_and_epoch_skip(spark, tmp_path):
    """The crash-safety contract of the state-swap protocol (ADVICE r7+r8):

    1. if a prior process died between the two swap renames (state_dir
       absent, '.old' the only copy), the next batch RESTORES '.old'
       instead of clearing it;
    2. a redelivered (query_id, epoch_id) — same checkpoint restarted
       after a crash between the swap and the checkpoint commit — is
       skipped by the additive rollup merge instead of double-added, and
       the skip branch clears a stale '.old';
    3. a FRESH checkpoint over retained state (epoch numbering restarts
       at 0, but the query id differs) MERGES its new data instead of
       mistaking it for a redelivery.
    """
    import os

    from arangodb_java_parquet_spark.streaming.ingest import (
        _EPOCH_MARKER, _last_applied, _recover_state, _swap_state)

    # the whole protocol rests on Spark's parquet reader ignoring
    # "_"-prefixed files, so the marker can live inside the state table
    assert _EPOCH_MARKER.startswith("_")

    # --- 1. mid-swap crash: .old is the only copy -> restored, not wiped
    state = str(tmp_path / "state")
    old = state + ".old"
    os.mkdir(old)
    with open(os.path.join(old, "part-0.txt"), "w") as fh:
        fh.write("the only copy")
    _recover_state(state)
    assert os.path.isdir(state) and not os.path.isdir(old)
    with open(os.path.join(state, "part-0.txt")) as fh:
        assert fh.read() == "the only copy"

    # --- completed swap leaves (query, epoch) marker readable, clears .old
    tmp_new = state + ".new"
    os.mkdir(tmp_new)
    with open(os.path.join(tmp_new, "part-0.txt"), "w") as fh:
        fh.write("v2")
    _swap_state(state, tmp_new, epoch_id=7, query_id="qA")
    assert _last_applied(state) == ("qA", 7)
    assert not os.path.isdir(old) and not os.path.isdir(tmp_new)

    # --- 2. additive rollup skips a genuinely redelivered epoch
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from arangodb_java_parquet_spark.streaming.ingest import (
        stream_incremental_rollup)

    src = tmp_path / "in"
    src.mkdir()
    ts = dt.datetime(2024, 3, 1, 12)
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([1, 1], pa.int64()),
        "event_type": pa.array(["click", "click"]),
        "ts": pa.array([ts, ts], pa.timestamp("us")),
        "value": pa.array([2.0, 3.0])}), str(src / "b1.parquet"))
    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp, value double")
    roll_state = str(tmp_path / "roll")
    roll_ck = str(tmp_path / "roll_ck")
    q = stream_incremental_rollup(
        spark, str(src), schema=schema, state_dir=roll_state,
        checkpoint_dir=roll_ck)
    q.awaitTermination()
    first = {(r.day, r.event_type): (r.n_events, float(r.sum_value))
             for r in spark.read.parquet(roll_state).collect()}
    qid1, applied = _last_applied(roll_state)
    assert applied == 0

    # simulate the crash window exactly: the state swap completed but the
    # checkpoint commit did not. Deleting commits/0 (keeping offsets/0)
    # makes the engine re-execute batch 0 with the SAME epoch_id and the
    # SAME query id on restart — the marker must detect the redelivery
    # and skip, leaving the rollup unchanged (without the guard it would
    # double-count). A stale '.old' from that same crash window must be
    # cleared by the skip branch.
    os.remove(os.path.join(roll_ck, "commits", "0"))
    crc = os.path.join(roll_ck, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    os.mkdir(roll_state + ".old")
    q2 = stream_incremental_rollup(
        spark, str(src), schema=schema, state_dir=roll_state,
        checkpoint_dir=roll_ck)
    q2.awaitTermination()
    after = {(r.day, r.event_type): (r.n_events, float(r.sum_value))
             for r in spark.read.parquet(roll_state).collect()}
    assert after == first
    assert _last_applied(roll_state) == (qid1, applied)
    assert not os.path.isdir(roll_state + ".old")

    # --- 3. fresh checkpoint + NEW data over retained state must MERGE:
    # epoch numbering restarts at 0, colliding with the marker's epoch,
    # but the fresh checkpoint's query id differs — skipping here would
    # be silent data loss (the r8 ADVICE hazard).
    src2 = tmp_path / "in2"
    src2.mkdir()
    pq.write_table(pa.table({
        "event_id": pa.array([3], pa.int64()),
        "user_id": pa.array([2], pa.int64()),
        "event_type": pa.array(["click"]),
        "ts": pa.array([ts], pa.timestamp("us")),
        "value": pa.array([10.0])}), str(src2 / "b2.parquet"))
    q3 = stream_incremental_rollup(
        spark, str(src2), schema=schema, state_dir=roll_state,
        checkpoint_dir=str(tmp_path / "roll_ck3"))
    q3.awaitTermination()
    merged = {(r.day, r.event_type): (r.n_events, float(r.sum_value))
              for r in spark.read.parquet(roll_state).collect()}
    key = (dt.date(2024, 3, 1), "click")
    assert merged[key] == (first[key][0] + 1, first[key][1] + 10.0)
    qid3, epoch3 = _last_applied(roll_state)
    assert epoch3 == 0 and qid3 != qid1
