"""Counting collection for the traced run.

Shipped to the executors as a top-level module (``SparkContext.addPyFile``)
so that the pickled sink inside the loader's ``foreachPartition`` closure
can be rebuilt there. The counters are Spark accumulators, so executor-side
additions reach the driver with the write job's results.
"""

from __future__ import annotations

import time

from arangodb_java_parquet_spark.sources.collections import LocalCollection


class CountingCollection(LocalCollection):
    """``LocalCollection`` that counts ``insert_many`` calls, documents,
    bytes and nanoseconds spent inside the parent's ``insert_many``."""

    def __init__(self, root: str, name: str, sc):
        super().__init__(root, name)
        self.calls = sc.accumulator(0)
        self.docs = sc.accumulator(0)
        self.bytes = sc.accumulator(0)
        self.nanos = sc.accumulator(0)

    def insert_many(self, docs: list[str]) -> int:
        t0 = time.perf_counter_ns()
        n = super().insert_many(docs)
        self.nanos.add(time.perf_counter_ns() - t0)
        self.calls.add(1)
        self.docs.add(n)
        self.bytes.add(sum(len(d.encode("utf-8")) + 1 for d in docs))
        return n
