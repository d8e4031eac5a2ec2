"""Shared helpers for the query inventory.

Key design decision — deterministic float aggregation: double summation is
not associative, so a Spark parallel sum and a DuckDB sum can differ in the
last ulps and fail a value-hash comparison. Every SUM/AVG over doubles in
this inventory therefore casts its (per-row, IEEE-deterministic) operand to
DECIMAL, sums exactly, and casts the final value to DOUBLE — identical bits
in any engine and under any partitioning. This is also the right call at
100 TB: decimal partial aggregation is still map-side combinable and avoids
run-to-run drift in reported metrics.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Materialization policy (local localCheckpoint vs cluster-reliable
# checkpoint/persist) — see arangodb_java_parquet_spark/materialize.py.
# Re-exported here because nearly every query module already imports
# from queries.common.
from arangodb_java_parquet_spark.materialize import materialize  # noqa: F401
from arangodb_java_parquet_spark.streaming.ingest import event_time_ltz

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def scratch_dir(prefix: str) -> str:
    """A mkdtemp registered for atexit cleanup. Query callables that
    materialize sink/checkpoint state (loader round-trips, streaming
    drives) need a directory that OUTLIVES lazy evaluation of the
    DataFrame they return — the driver/harness may collect it long after
    the callable exits — but must not leak a copy of the dataset into
    /tmp on every harness/bench invocation (round-4 ADVICE). atexit
    bounds the lifetime to the process."""
    import atexit
    import shutil
    import tempfile
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def query(name: str, oracle: str | None = None):
    """Register a query implementation and (optionally) its DuckDB oracle."""
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The physical read of one driver table, with the session conf every
    read of it needs: time zone pinned to UTC (DuckDB timestamps are
    UTC-naive) and, for events, nanos read as long
    (spark.sql.legacy.parquet.nanosAsLong — events has been written as
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects). Events
    ``ts`` is whatever the file's generation surfaces (bigint,
    TIMESTAMP_NTZ or TIMESTAMP); :func:`t` and :func:`stream_table`
    normalize it."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver tables (parquet scan; Catalyst prunes/pushes).

    :func:`raw_table`, plus events ``ts`` normalized to TIMESTAMP_NTZ: a
    nanos-as-long column converts to micros (sub-microsecond parts are
    zero in this corpus; `div` keeps the arithmetic integer-exact).
    """
    df = raw_table(spark, sf_dir, name)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A file stream over one driver table: the streaming twin of
    :func:`t`. File streams need a directory source, so it reads
    ``sf_dir`` glob-filtered to ``{name}.parquet`` under the table's
    physical schema. Events ``ts`` comes out as TIMESTAMP (LTZ) — the
    only type watermarks accept — via ``event_time_ltz``, whichever
    generation the file is."""
    df = (spark.readStream.schema(raw_table(spark, sf_dir, name).schema)
          .option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir))
    return event_time_ltz(df) if name == "events" else df


def drain(df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion (``availableNow``) into a
    memory sink and return the sink table. An availableNow drive over a
    static source is one micro-batch, so watermarks drop nothing and the
    output equals the batch twin's — what lets streaming entries carry
    value oracles."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # state-store count == shuffle partitions at query start; a drained
    # driver table does not need 32 state stores' worth of per-task setup.
    # A real deployment sizes this to key cardinality / executor count
    # instead.
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        (df.writeStream.outputMode(output_mode).format("memory")
         .queryName(name)
         .option("checkpointLocation", scratch_dir("ajps_ck_"))
         .trigger(availableNow=True).start().awaitTermination())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


# -- deterministic numeric aggregation --------------------------------------

def dsum(col: Column | str, scale: int = 8) -> Column:
    """Exact decimal sum of a double expression, returned as DOUBLE.

    Scale 8 so that typical money-arithmetic products (2+2+2 decimal digits)
    are exactly representable — the cast then snaps the double to the true
    value identically in every engine, with no rounding-mode sensitivity.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double")


def davg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum cast to double, / count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(30,8)")).cast("double") / F.count(c)


def sql_dsum(expr: str, scale: int = 8) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return (f"CAST(SUM(CAST({expr} AS DECIMAL(30,8))) AS DOUBLE)"
            f" / COUNT({expr})")


# -- vector similarity in oracle SQL ------------------------------------------

# Same left-to-right double accumulation as operators/similarity.dot —
# NOT list_dot_product (float32 accumulator, diverges at ~1e-8).
SQL_DOT = ("list_sum(list_transform(range(1, len({a})+1),"
           " i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))")


def sql_cos(a: str, b: str) -> str:
    """Cosine of two DOUBLE-list expressions, rounded to 9 places."""
    d = SQL_DOT.format(a=a, b=b)
    na = f"sqrt({SQL_DOT.format(a=a, b=a)})"
    nb = f"sqrt({SQL_DOT.format(a=b, b=b)})"
    # NULLIF: a zero-norm vector must yield NULL on both engines (Spark
    # ANSI aborts on /0 where DuckDB returns inf — the divergence class
    # swept r15); values are unchanged whenever both norms are nonzero
    return f"round(({d}) / NULLIF(({na}) * ({nb}), 0), 9)"


def srp_bucket_sql(n_bits: int, vec: str = "embedding") -> str:
    """The SRP bucket of a DOUBLE-list expression: the oracle twin of
    operators/similarity.srp_bucket, bit i (1-based vec[i] > 0) weighted
    2^(n_bits - i), the first axis the most significant. The ONE source
    of the bucket SQL; the CASE sum is never hand-copied."""
    bits = [f"(CASE WHEN {vec}[{i + 1}] > 0 THEN 1 ELSE 0 END)"
            + (f" * {1 << (n_bits - 1 - i)}" if i < n_bits - 1 else "")
            for i in range(n_bits)]
    return "(" + " +\n          ".join(bits) + ")"


# -- exact distributed percentiles -------------------------------------------

def exact_percentiles(df: DataFrame, value_col: str,
                      fractions: list[float], out_cols: list[str],
                      group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Exact percentile(value_col, p) for several fractions in ONE fully
    distributed ranked pass — the scale-safe replacement for Spark's
    percentile() aggregate, whose ObjectHashAggregate buffers an
    O(distinct-values) boxed OpenHashMap on the final reducer and sorts
    it single-threaded (guide §5 memory risk; measured 1.9 s of
    theil_sen_trend's 3.9 s at sf0.1, r15).

    Mechanics (both halves already proven in this codebase):
      * global rank WITHOUT a single-task sort: repartitionByRange on
        (*group_cols, value) -> per-partition row_number -> tiny
        per-(partition, group) counts rolled into broadcast prefix
        offsets (the join_range_binned prefix-scan shape, temporal.py);
      * percentile()'s own interpolation over the two middle order
        statistics: pos = (n-1)*p, (ceil(pos)-pos)*v[floor] +
        (pos-floor(pos))*v[ceil] — the formula verified bit-identical to
        percentile()/quantile_cont in the r15 theil_sen rewrite, here
        pinned registry-wide by tests/test_percentile_helper.py.

    NULL values are excluded (percentile() semantics). A group whose
    values are ALL NULL is dropped from the output, where percentile()
    emits the group with NULL percentiles. Output: one row per non-empty
    group with *group_cols and ``out_cols`` — UNROUNDED
    doubles, bit-identical to percentile(value_col, p). Rows ranked by
    the DOUBLE cast of the value (exact for float/int inputs; callers
    here pass doubles).
    """
    from functools import reduce
    from operator import or_

    from pyspark.sql import Window as W

    gcols = list(group_cols)
    nparts = df.sparkSession.sparkContext.defaultParallelism
    vals = (df.filter(F.col(value_col).isNotNull())
            .select(*gcols, F.col(value_col).cast("double").alias("__v")))
    # materialize pins ONE set of sampled range boundaries so the local-
    # rank and per-partition-total subtrees see identical pids
    rb = (vals.repartitionByRange(nparts, *gcols, "__v")
          .withColumn("__pid", F.spark_partition_id())
          .transform(materialize))
    loc = rb.withColumn("__lrn", F.row_number().over(
        W.partitionBy("__pid", *gcols).orderBy("__v")))
    tot = rb.groupBy("__pid", *gcols).agg(F.count(F.lit(1)).alias("__c"))
    woff = (W.partitionBy(*gcols) if gcols else W.partitionBy()
            ).orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    wall = W.partitionBy(*gcols) if gcols else W.partitionBy()
    off = tot.select(
        "__pid", *gcols,
        F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
        F.sum("__c").over(wall).alias("__n"))
    ranked = (loc.join(F.broadcast(off), ["__pid", *gcols])
              .select(*gcols, "__v", "__n",
                      (F.col("__lrn") + F.col("__off")).alias("__rn")))
    conds, aggs = [], []
    for i, p in enumerate(fractions):
        pos = (F.col("__n") - 1) * F.lit(float(p))
        lower, higher = F.floor(pos), F.ceil(pos)
        conds.append((F.col("__rn") - 1 == lower)
                     | (F.col("__rn") - 1 == higher))
        aggs.append(F.max(F.when(F.col("__rn") - 1 == lower,
                                 F.col("__v"))).alias(f"__lk{i}"))
        aggs.append(F.max(F.when(F.col("__rn") - 1 == higher,
                                 F.col("__v"))).alias(f"__hk{i}"))
    picked = ranked.filter(reduce(or_, conds))
    gb = picked.groupBy(*gcols) if gcols else picked.groupBy()
    agg = gb.agg(F.max("__n").alias("__n"), *aggs)
    outs = []
    for i, (p, name) in enumerate(zip(fractions, out_cols)):
        apos = (F.col("__n") - 1) * F.lit(float(p))
        alower, ahigher = F.floor(apos), F.ceil(apos)
        outs.append(
            F.when(alower == ahigher, F.col(f"__lk{i}"))
            .otherwise((ahigher.cast("double") - apos) * F.col(f"__lk{i}")
                       + (apos - alower.cast("double")) * F.col(f"__hk{i}"))
            .alias(name))
    return agg.select(*gcols, *outs)
