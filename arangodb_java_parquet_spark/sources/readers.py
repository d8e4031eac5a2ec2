"""Multi-format source readers (SURVEY.md §2.2 "Sources" row).

The reference reads exactly one format — a single Parquet file
(ParquetArangoLoader.java:139). Parquet and ORC need nothing beyond
``spark.read.parquet`` / ``spark.read.orc`` (columnar, predicate+projection
pushdown, schema from file metadata). This module holds the readers that
add a policy on top of ``spark.read``:

  csv / json / xml     schema REQUIRED in production paths (inference scans
                       the data twice and types drift run-to-run; at 100 TB
                       inference is a correctness and cost bug) — pass
                       ``schema=`` or opt in with ``infer=True`` for
                       exploration
  avro                 try-gated on the external spark-avro jar, with an
                       actionable error
  binaryFile           raw bytes per file
  collection           read back a LocalCollection (JSONL parts dir) as a
                       DataFrame — closes the loader round trip

plus the lake-layout writers (partitioned, range-sorted, Z-ordered) and
small-files compaction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.sources.collections import LocalCollection


def read_csv(spark: SparkSession, path: str, *, schema=None,
             header: bool = True, infer: bool = False,
             **options) -> DataFrame:
    if schema is None and not infer:
        raise ValueError(
            "read_csv requires an explicit schema (or infer=True for "
            "exploration); schema inference double-scans the input")
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, *, schema=None,
              infer: bool = False, **options) -> DataFrame:
    if schema is None and not infer:
        raise ValueError(
            "read_json requires an explicit schema (or infer=True); "
            "inference double-scans the input")
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_xml(spark: SparkSession, path: str, *, row_tag: str = "row",
             schema=None, infer: bool = False, **options) -> DataFrame:
    """Native XML source (integrated into Spark 4 from spark-xml): one
    row per ``row_tag`` element. Same explicit-schema discipline as
    CSV/JSON — inference double-scans the input."""
    if schema is None and not infer:
        raise ValueError(
            "read_xml requires an explicit schema (or infer=True); "
            "inference double-scans the input")
    reader = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, *, row_tag: str = "row",
              root_tag: str = "rows", mode: str = "overwrite") -> None:
    """Native XML sink (Spark 4)."""
    (df.write.format("xml").option("rowTag", row_tag)
     .option("rootTag", root_tag).mode(mode).save(path))


def read_collection(spark: SparkSession, collection: LocalCollection, *,
                    schema=None) -> DataFrame:
    """Read a LocalCollection back as a DataFrame (schema-on-read over the
    JSONL part files — the document store's dynamic-schema model)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(f"{collection.path}/part-*.jsonl")


def compact_collection(spark: SparkSession, collection: LocalCollection,
                       out_path: str, *, schema=None,
                       partitions: int | None = None) -> None:
    """Compact a JSONL collection into a columnar parquet snapshot.

    The operational companion to the document sink: many small JSONL part
    files (one per insert batch) -> few parquet files, with schema
    consolidation. At scale this is the nightly job that keeps the
    collection queryable (small-files problem); ``partitions`` controls
    output file count (coalesce — no shuffle).
    """
    df = read_collection(spark, collection, schema=schema)
    if partitions is not None:
        df = df.coalesce(partitions)
    df.write.mode("overwrite").parquet(out_path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      *, mode: str = "overwrite",
                      max_records_per_file: int | None = None) -> None:
    """Hive-style partitioned parquet write — the lake layout that makes
    partition pruning work: a reader filtering on ``partition_cols`` scans
    only matching directories (PartitionFilters in the plan, asserted in
    tests/test_sources.py).

    ``max_records_per_file`` bounds file sizes (the other half of the
    small-files/huge-files balance at 100 TB).
    """
    writer = df.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy(*partition_cols).parquet(path)


def write_sorted(df: DataFrame, path: str, sort_cols: list[str], *,
                 mode: str = "overwrite",
                 num_files: int | None = None) -> None:
    """Range-partitioned, sorted parquet write — the data-skipping layout:
    ``repartitionByRange`` gives each output file a disjoint slice of the
    sort-key space and ``sortWithinPartitions`` orders rows inside, so
    parquet row-group min/max statistics become tight and selective scans
    skip whole files/row-groups (the single biggest read-amplification
    lever at 100 TB after partition pruning).

    ``num_files`` sizes the layout (default: current shuffle parallelism).
    """
    cols = [df[c] for c in sort_cols]
    ranged = (df.repartitionByRange(num_files, *cols) if num_files
              else df.repartitionByRange(*cols))
    (ranged.sortWithinPartitions(*sort_cols)
     .write.mode(mode).parquet(path))


def read_binary_files(spark: SparkSession, path: str, *,
                      glob: str | None = None,
                      recursive: bool = False) -> DataFrame:
    """Binary-file source for multimodal ingest: each file becomes one row
    (path, modificationTime, length, content: binary) via Spark's built-in
    ``binaryFile`` format — the scan half of the multimodal pipeline
    (operators/multimodal.py decodes/extracts from the ``content`` column).

    ``glob`` narrows the listing (e.g. ``*.jpg``) at the SOURCE — file
    pruning before any read, the binary analog of partition pruning. At
    100 TB of media, rows are file-sized, so downstream repartitioning
    (not file count) controls task granularity.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def read_avro(spark: SparkSession, path: str, *,
              avro_schema: str | None = None, **options) -> DataFrame:
    """Avro source — the reference's native row model
    (ParquetArangoLoader.java:139 reads parquet THROUGH Avro
    GenericRecords; an Avro file source is the same data model without
    the parquet container).

    Spark's avro support lives in the external spark-avro module
    (``org.apache.spark:spark-avro_2.13``); this image ships only the
    avro core jars, so the reader try-gates with an actionable error
    instead of failing mid-plan. ``avro_schema`` (JSON) pins the reader
    schema for schema-evolution reads, like the loader's dynamic-schema
    handling.
    """
    reader = spark.read.format("avro")
    if avro_schema is not None:
        reader = reader.option("avroSchema", avro_schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        return reader.load(path)
    except Exception as e:
        if "Failed to find data source" in str(e):
            raise RuntimeError(
                "avro source requires the external spark-avro module on the "
                "classpath (org.apache.spark:spark-avro_2.13; not present "
                "in this image) — pass --packages or add the jar") from e
        raise


def write_avro(df: DataFrame, path: str, *, mode: str = "overwrite",
               **options) -> None:
    """Avro sink (same spark-avro module gate as :func:`read_avro`)."""
    writer = df.write.mode(mode).format("avro")
    for k, v in options.items():
        writer = writer.option(k, v)
    try:
        writer.save(path)
    except Exception as e:
        if "Failed to find data source" in str(e):
            raise RuntimeError(
                "avro sink requires the external spark-avro module on the "
                "classpath (org.apache.spark:spark-avro_2.13; not present "
                "in this image) — pass --packages or add the jar") from e
        raise


def zorder_key(cols: list[Column], n_bits: int = 10) -> Column:
    """Z-order (Morton) clustering key: bit-interleave the low ``n_bits``
    of each (non-negative integral) column so that sorting by the single
    key co-locates rows that are close in EVERY dimension — the layout
    trick behind multi-column data skipping in modern lakehouses: range
    files get tight min/max footer stats on all participating columns at
    once, where a lexicographic sort only helps the leading column.

    Pure integer bit arithmetic (shift/and/or), portable to any engine,
    whole-stage-codegen friendly. Callers bucket unbounded domains first
    (e.g. ``col % 1024`` or a quantile bucket) to fit ``n_bits``.

    The interleaved key must fit a signed long: Java shift counts wrap
    mod 64, so ``n_bits * len(cols) > 63`` would silently fold high bits
    onto low ones (corrupted, non-monotone keys) — rejected explicitly.
    """
    n_dims = len(cols)
    if n_bits * n_dims > 63:
        raise ValueError(
            f"zorder_key: n_bits * n_dims = {n_bits * n_dims} exceeds the "
            "63 usable bits of a signed long (Java shiftleft wraps shift "
            "counts mod 64, silently corrupting the key). Lower n_bits or "
            "interleave fewer columns.")
    out = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        cc = c.cast("long")
        for i in range(n_bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(cc, i).bitwiseAND(F.lit(1)),
                            i * n_dims + d))
    return out


def write_zordered(df: DataFrame, path: str, zorder_cols: list[str], *,
                   n_bits: int = 10, mode: str = "overwrite",
                   num_files: int | None = None) -> None:
    """Z-order-clustered parquet write: range-partition + sort on the
    interleaved key (one shuffle), so selective predicates on ANY of the
    participating columns skip most files via row-group stats."""
    key = zorder_key([df[c] for c in zorder_cols], n_bits).alias("__zkey")
    with_key = df.withColumn("__zkey", key)
    ranged = (with_key.repartitionByRange(num_files, "__zkey") if num_files
              else with_key.repartitionByRange("__zkey"))
    (ranged.sortWithinPartitions("__zkey").drop("__zkey")
     .write.mode(mode).parquet(path))


def compact_files(spark: SparkSession, src: str, dst: str, *,
                  target_records_per_file: int,
                  sort_cols: list[str] | None = None) -> int:
    """Small-files compaction — the lake-maintenance pass that undoes
    streaming/append fragmentation: read the (many-file) parquet dataset
    at ``src`` and rewrite it to ``dst`` as ceil(n / target) right-sized
    files, optionally re-sorted so footer stats stay selective. Thousands
    of KB-sized files turn a 100 TB scan into a listing+open storm; the
    periodic compact is as much a part of the write path as the write.

    Returns the number of output files requested. (Distinct dst: Spark
    cannot overwrite a path it is reading; production would swap the
    directory pointer atomically afterwards.)
    """
    df = spark.read.parquet(src)
    n = df.count()
    n_files = max(1, -(-n // target_records_per_file))
    if sort_cols:
        cols = [df[c] for c in sort_cols]
        out = (df.repartitionByRange(n_files, *cols)
               .sortWithinPartitions(*sort_cols))
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst)
    return n_files
