"""Testdata-regeneration insurance: the driver has regenerated
/root/testdata between rounds with DIFFERENT physical timestamp types
(round 3: events.ts went TIMESTAMP(NANOS)->TIMESTAMP(MICROS), flipping
the parquet-read dtype from bigint to TIMESTAMP_NTZ). This test
synthesizes every historical generation of the events table and asserts
the three normalization funnels — queries/common.t() (batch, NTZ out),
streaming/ingest.event_time_ltz (LTZ out, watermark-ready) and
queries/common.stream_table (file stream, LTZ out) — produce identical
instants for all of them, so a future regeneration cannot silently shift
event-time semantics again."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

UTC = datetime.timezone.utc
INSTANTS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0),
    datetime.datetime(2024, 6, 15, 12, 34, 56, 789000),
    datetime.datetime(2025, 12, 31, 23, 59, 59, 999999),
]


def _write_events(dirpath, ts_array):
    os.makedirs(dirpath, exist_ok=True)
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["view", "click", "purchase"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "ts": ts_array,
    })
    pq.write_table(tbl, os.path.join(dirpath, "events.parquet"))
    return dirpath


@pytest.fixture(scope="module")
def generations(tmp_path_factory):
    root = tmp_path_factory.mktemp("ts_gens")
    micros = [int(t.replace(tzinfo=UTC).timestamp() * 1_000_000)
              for t in INSTANTS]
    gens = {}
    # round-1/2 generation: TIMESTAMP(NANOS), which Spark's reader only
    # accepts as bigint under nanosAsLong
    gens["nanos"] = _write_events(
        str(root / "nanos"),
        pa.array([m * 1000 for m in micros], pa.timestamp("ns")))
    # round-3+ generation: TIMESTAMP(MICROS) without tz -> TIMESTAMP_NTZ
    gens["ntz_us"] = _write_events(
        str(root / "ntz_us"),
        pa.array(micros, pa.timestamp("us")))
    # a plausible future generation: tz-aware micros -> TIMESTAMP (LTZ)
    gens["ltz_us"] = _write_events(
        str(root / "ltz_us"),
        pa.array(micros, pa.timestamp("us", tz="UTC")))
    return gens


def test_common_t_normalizes_every_generation(spark, generations):
    from arangodb_java_parquet_spark.queries.common import t
    seen = {}
    for gen, d in generations.items():
        rows = t(spark, d, "events").orderBy("event_id") \
            .select("event_id", "ts").collect()
        seen[gen] = [(r.event_id, r.ts.replace(tzinfo=None)
                      if r.ts.tzinfo else r.ts) for r in rows]
    assert seen["nanos"] == seen["ntz_us"] == seen["ltz_us"]
    assert [ts for _, ts in seen["nanos"]] == INSTANTS


def test_event_time_ltz_normalizes_every_generation(spark, generations):
    from arangodb_java_parquet_spark.streaming.ingest import event_time_ltz
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    seen = {}
    for gen, d in generations.items():
        df = event_time_ltz(spark.read.parquet(f"{d}/events.parquet"))
        assert dict(df.dtypes)["ts"] == "timestamp"  # watermark-legal LTZ
        rows = df.orderBy("event_id").select("event_id", "ts").collect()
        seen[gen] = [(r.event_id, r.ts) for r in rows]
    assert seen["nanos"] == seen["ntz_us"] == seen["ltz_us"]


def test_stream_table_normalizes_every_generation(spark, generations):
    from arangodb_java_parquet_spark.queries.common import drain, stream_table
    seen = {}
    for gen, d in generations.items():
        stream = stream_table(spark, d, "events")
        assert dict(stream.dtypes)["ts"] == "timestamp"  # watermark-legal
        rows = (drain(stream.select("event_id", "ts"), "append")
                .orderBy("event_id").collect())
        seen[gen] = [(r.event_id, r.ts) for r in rows]
    assert seen["nanos"] == seen["ntz_us"] == seen["ltz_us"]
    assert len(seen["nanos"]) == len(INSTANTS)
