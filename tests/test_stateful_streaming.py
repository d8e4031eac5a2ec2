"""applyInPandasWithState: per-user lifetime counters maintained in the
state store, verified against the batch ground truth."""

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries.common import t
from arangodb_java_parquet_spark.streaming.ingest import stateful_user_counters


def test_stateful_counters_match_batch(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)"))

    out = stateful_user_counters(stream)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("stateful_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {r.user_id: (r.n_events, round(r.sum_value, 6))
           for r in spark.table("stateful_out").collect()}

    events = t(spark, sf_dir, "events")
    expected = {r.user_id: (r.n, round(r.s, 6)) for r in
                events.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
                .collect()}
    assert got == expected and len(got) > 0
