"""ParquetLoader — the reference's public API surface, Spark-first.

Reference: ``ParquetArangoLoader`` (ParquetArangoLoader.java:85-269) reads one
Parquet file row-at-a-time on one thread, JSON-encodes each row, and inserts
fixed-size batches into an ArangoDB collection, optionally async with at most
``maxParallelBatches`` (+1, ``>`` vs ``>=`` — ParquetArangoLoader.java:244)
in-flight insert requests.

Spark re-expression (SURVEY.md §2.1 #1,2,6,7):
  * scan        -> ``spark.read.parquet`` (distributed, vectorized, multi-file,
                   column-pruned — strictly more general than the reference's
                   single-file row loop at ParquetArangoLoader.java:139-150)
  * encode      -> Column expressions, either way: the ``to_json`` fast path
                   or the reference-fidelity encoder (functions/docjson.py);
                   the write below is the load's only Python stage
  * batch+sink  -> one Arrow-batched ``mapInArrow`` write: each task reads
                   its partition's documents as Arrow record batches, groups
                   them into ``batch_size`` chunks, calls
                   ``collection.insert_many`` and returns its own count.
                   Task parallelism IS the async model: N parallel partition
                   tasks ≈ the reference's ``maxParallelBatches`` in-flight
                   requests, minus the 10 ms busy-wait poll
                   (ParquetArangoLoader.java:239-250) which Spark's scheduler
                   replaces outright.

Scale posture: the driver collects one count row per write task and no
documents; memory per task is O(batch_size) plus one Arrow batch; works
identically on a 1000-executor cluster writing to a shared filesystem or a
server-backed collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from arangodb_java_parquet_spark.functions.docjson import (
    DOC_COL,
    encode_documents,
)
from arangodb_java_parquet_spark.shipping import ensure_package_shipped
from arangodb_java_parquet_spark.sources.collections import Collection, batched

DEFAULT_BATCH_SIZE = 1000          # ParquetArangoLoader.java:35


class ParquetLoader:
    """Load Parquet data into a document collection.

    ``type_converters``, filled by :meth:`add_type_converter`, maps a Spark
    DataType simple-string (``"timestamp"``, ``"date"``, ``"binary"``,
    ``"decimal(10,2)"``, ...) to a ``Column -> Column`` function — the
    Spark analog of the reference's per-Avro-LogicalType converter
    registry (ParquetArangoLoader.java:34,56-58,74-76).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.type_converters = {}

    def add_type_converter(self, type_simple_string: str, fn) -> None:
        """Register ``fn: Column -> Column`` for all top-level fields of the
        given type (ParquetArangoLoader.java:74-76)."""
        self.type_converters[type_simple_string] = fn

    # -- read ---------------------------------------------------------------

    def read(self, path: str) -> DataFrame:
        """Distributed Parquet scan; accepts file, directory, or glob."""
        return self.spark.read.parquet(path)

    # -- load (sync entry point parity) -------------------------------------

    def load(self, path: str, collection: Collection, *,
             overwrite: bool = False,
             batch_size: int = DEFAULT_BATCH_SIZE,
             mode: str = "spark",
             max_parallel_batches: int | None = None) -> int:
        """Load a Parquet path into ``collection``; returns rows loaded.

        Parity with ``loadParquetFileIntoArango`` /
        ``loadParquetFileIntoArangoAsync`` (ParquetArangoLoader.java:122-157,
        213-269): append semantics, ``overwrite`` drops and recreates the
        collection first, every batch holds at most ``batch_size`` documents,
        batch-size validation raises like the reference
        (ParquetArangoLoader.java:123-125).

        ``max_parallel_batches`` maps to write-task parallelism
        (``repartition``) — a documented approximation of the reference's
        bounded in-flight async requests (SURVEY.md §7 hard part 4). ``None``
        keeps the scan's natural partitioning (best at scale: no extra
        shuffle).
        """
        df = self.read(path)
        return self.load_dataframe(
            df, collection, overwrite=overwrite, batch_size=batch_size,
            mode=mode, max_parallel_batches=max_parallel_batches)

    def load_dataframe(self, df: DataFrame, collection: Collection, *,
                       overwrite: bool = False,
                       batch_size: int = DEFAULT_BATCH_SIZE,
                       mode: str = "spark",
                       max_parallel_batches: int | None = None) -> int:
        """Encode ``df`` rows as JSON documents and bulk-insert them.

        Returns the number of documents written: each write task reports
        how many documents it handed to ``collection.insert_many``, and the
        driver sums those reports. Only a task attempt that succeeds
        returns its report, so the count equals ``df``'s row count even
        when Spark retries a task. The sink's CONTENTS stay at-least-once:
        a failed attempt's batches that reached the sink before the failure
        remain there, and the retry writes them again. Exactly-once
        delivery is the ROADMAP direction "Exactly-once loader under task
        retry and stream replay".

        Validation lives here (not just in ``load``) because this is the
        public API the streaming ``foreachBatch`` path calls directly —
        batch_size < 1 must raise like the reference
        (ParquetArangoLoader.java:123-125), never silently mis-batch.
        """
        if batch_size < 1:
            raise ValueError("batch size must be >= 1")
        if max_parallel_batches is not None and max_parallel_batches < 1:
            raise ValueError("max parallel batches must be >= 1")
        ensure_package_shipped(self.spark)
        collection.ensure(overwrite=overwrite)

        if max_parallel_batches is not None:
            # round-robin the input rows, not the encoded JSON: the shuffle
            # moves typed rows and the encode runs in the write tasks
            df = df.repartition(max_parallel_batches)
        docs = encode_documents(df, mode=mode,
                                converters=self.type_converters)

        # mapInArrow: each write task receives its partition's documents as
        # Arrow record batches, regroups them into exactly
        # ``batch_size``-long inserts (last one partial) and returns ONE row
        # holding its count — the distributed analog of the reference's
        # chunk loop (ParquetArangoLoader.java:142-154;
        # ChunkedParquetReaderIterator.java), O(batch_size) memory per task.
        def write_batches(record_batches):
            import pyarrow as pa
            docs_iter = (d for rb in record_batches
                         for d in rb.column(DOC_COL).to_pylist())
            n = 0
            for batch in batched(docs_iter, batch_size):
                collection.insert_many(batch)
                n += len(batch)
            yield pa.RecordBatch.from_pydict({"n": [n]})

        written = docs.mapInArrow(write_batches, "n long").collect()
        return sum(r[0] for r in written)
