"""Read-side helpers over ``spark.read`` (SURVEY.md §2.2 "Sources" row).

The reference reads exactly one format — a single Parquet file
(ParquetArangoLoader.java:139). Every other format Spark reads natively
(``spark.read.csv/json/orc/format("xml"|"binaryFile")``) needs no wrapper.
This module holds the two helpers registry entries use:

  read_collection      read back a LocalCollection (JSONL parts dir) as a
                       DataFrame — closes the loader round trip
  zorder_key           the Z-order (Morton) clustering key for multi-column
                       data-skipping layouts
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.sources.collections import LocalCollection


def read_collection(spark: SparkSession, collection: LocalCollection, *,
                    schema=None) -> DataFrame:
    """Read a LocalCollection back as a DataFrame (schema-on-read over the
    JSONL part files — the document store's dynamic-schema model)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(f"{collection.path}/part-*.jsonl")


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
