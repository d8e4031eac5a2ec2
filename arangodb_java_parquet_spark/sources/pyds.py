"""Python Data Source (PySpark 4 DataSourceV2 API) for document
collections: ``spark.read.format("ajps_collection")``.

This is the engine-integrated read path for the collection sink (SURVEY.md
§7 listed a DataSourceV2 integration as the optional nicety over plain
``spark.read.json``): one input partition per JSONL part file, so Spark
schedules file-parallel reads with locality, and the collection plugs into
the full DataFrame/Catalyst pipeline like any built-in source.

Usage::

    from arangodb_java_parquet_spark.sources.pyds import register
    register(spark)
    df = (spark.read.format("ajps_collection")
          .schema("n_nationkey long, n_name string, n_regionkey long")
          .option("path", collection.path).load())
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from arangodb_java_parquet_spark.shipping import ensure_package_shipped


class CollectionDataSource(DataSource):
    """Document-collection source AND sink: directory of JSONL part files.

    Write side: ``df.write.format("ajps_collection").option("path", ...)
    .mode("append"|"overwrite").save()`` — each task writes one uniquely-
    named part file (same layout the loader's Arrow-batched mapInArrow
    write produces, so the two write paths interoperate); overwrite clears the
    directory at commit time via the standard two-phase
    write-task/commit-driver protocol."""

    @classmethod
    def name(cls) -> str:
        return "ajps_collection"

    def reader(self, schema) -> "CollectionReader":
        return CollectionReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> "CollectionWriter":
        return CollectionWriter(self.options, schema, overwrite)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class CollectionReader(DataSourceReader):
    def __init__(self, options, schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ajps_collection requires .option('path', ...)")
        self.field_names = schema.fieldNames()

    def partitions(self):
        # one partition per part file -> file-parallel scheduling, the same
        # split model the sink's concurrent writers produce
        files = sorted(
            os.path.join(self.path, f) for f in os.listdir(self.path)
            if f.startswith("part-") and f.endswith(".jsonl"))
        return [_FilePartition(p) for p in files] or [_FilePartition("")]

    def read(self, partition):
        if not partition.path:
            return
        names = self.field_names
        with open(partition.path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    doc = json.loads(line)
                    yield tuple(doc.get(n) for n in names)


class _Committed(WriterCommitMessage):
    def __init__(self, tmp_path: str):
        self.tmp_path = tmp_path


class CollectionWriter(DataSourceWriter):
    """Two-phase collection writer: tasks write temp files (one per
    partition), the driver commit renames them into place — task retries
    and speculative duplicates never become visible (the retry-safety the
    reference loader lacks, SURVEY.md §7 hard part 3)."""

    def __init__(self, options, schema, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ajps_collection requires .option('path', ...)")
        self.field_names = schema.fieldNames()
        self.overwrite = overwrite

    def write(self, rows) -> _Committed:
        import uuid
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        names = self.field_names
        with open(tmp, "w", encoding="utf-8") as f:
            for row in rows:
                f.write(json.dumps(dict(zip(names, row)), default=str))
                f.write("\n")
        return _Committed(tmp)

    def commit(self, messages) -> None:
        import uuid
        if self.overwrite:
            for fn in os.listdir(self.path):
                if fn.startswith("part-") and fn.endswith(".jsonl"):
                    os.remove(os.path.join(self.path, fn))
        for m in messages:
            os.rename(m.tmp_path,
                      os.path.join(self.path,
                                   f"part-{uuid.uuid4().hex}.jsonl"))

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


def register(spark) -> None:
    """Register the collection data source with this session (idempotent).

    Ships the package to executors first — the reader class deserializes
    there by importing this module.
    """
    ensure_package_shipped(spark)
    spark.dataSource.register(CollectionDataSource)
