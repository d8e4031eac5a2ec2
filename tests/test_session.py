"""The session factory and the per-process package shipping: settings that
only show in what the JVM does (how often it compiles) or under concurrent
callers."""

import os
import sys
import threading
import time

from arangodb_java_parquet_spark import shipping


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_repeated_working_set(spark):
    """More distinct plan shapes than Spark's default 100-entry codegen
    cache, built twice: the second sweep finds every generated class
    cached. With the default size the LRU evicts most shapes before their
    repeat, so the second sweep recompiles most of them. Executing a
    plan's RDD is where whole-stage codegen compiles on the driver; no
    job runs."""
    n = 120

    def sweep() -> int:
        before = _compiles(spark)
        for i in range(n):
            df = spark.range(0, 1, 1, 1).selectExpr(f"id * {1000 + i} AS x")
            df._jdf.queryExecution().executedPlan().execute()
        return _compiles(spark) - before

    first = sweep()
    second = sweep()
    assert first >= n
    assert second <= 0.05 * first, (first, second)


def test_driver_heap_fits_the_host(spark):
    """The shared test session's driver heap fits in the host's physical
    memory (by default it is sized from it): a larger heap lets the JVM
    grow until the machine, not the garbage collector, stops it."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    heap = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(mem)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= phys, (mem, phys)


class _StubContext:
    def __init__(self):
        self.added = []

    def addPyFile(self, path):
        time.sleep(0.05)   # widen the window between check and ship
        self.added.append(path)


class _StubSession:
    def __init__(self):
        self.sparkContext = _StubContext()


def test_package_ships_once_under_concurrent_callers():
    """Eight threads ship to one context at once: exactly one addPyFile,
    of a complete zip; a second context gets the same zip added once."""
    import zipfile

    spark = _StubSession()
    start = threading.Barrier(8)

    def call():
        start.wait(timeout=30)
        shipping.ensure_package_shipped(spark)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(spark.sparkContext.added) == 1
    [path] = spark.sparkContext.added
    with zipfile.ZipFile(path) as zf:
        assert zf.testzip() is None
        assert "arangodb_java_parquet_spark/shipping.py" in zf.namelist()
    other = _StubSession()
    shipping.ensure_package_shipped(other)
    shipping.ensure_package_shipped(other)
    assert other.sparkContext.added == [path]
