"""SparkSession factory with defaults tuned for both local testing and
100 TB-scale posture (AQE on, UTC timestamps, Arrow enabled).

Scale notes: every default here is either neutral or beneficial on a real
multi-executor cluster. ``spark.sql.shuffle.partitions`` is sized for the
local harness; on a 1000-executor cluster AQE's coalescePartitions +
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` make the static number
mostly irrelevant (it only caps the initial shuffle fan-out).

``spark.sql.codegen.cache.maxEntries`` is raised from Spark's 100 to 1024.
Whole-stage codegen compiles a plan's generated classes on the driver when
the plan first executes, and every task then looks them up in the same
JVM-wide cache, so an evicted class is compiled again. perfbench's
query_iterative pass needs ~570 distinct classes, so at 100 entries the
LRU evicted each before its next use and every warm pass recompiled ~650
of them (5-7 ms each); at 1024 a warm pass compiles 10-63. A cached class
costs ~30 KB of heap and ~7 KB of Metaspace, so a full cache holds ~30 MB
and ~7 MB (figures in CHANGES.md). The conf is static and fixed when a
JVM first compiles; executor JVMs read it from the session conf that
Spark propagates with every SQL job, so a cluster's executors, which
thrash the same way, get the same size.

``spark.driver.memory`` defaults to 3/8 of the host's physical memory. A
fixed 90g let a full oracle-harness run grow the driver JVM to ~10 GB of
RSS on a 16 GB host and lose it part-way; 3/8 of 16 GB is the 6 GB that
run completes with, and the rest stays for the Python driver, DuckDB and
the Python workers.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "arangodb_java_parquet_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Env knobs (driver contract): ``SPARK_GRAFT_CPUS`` sets local
    parallelism and the default shuffle partitions (default 32);
    ``SPARK_GRAFT_DRIVER_MEM`` sets ``spark.driver.memory`` (default
    3/8 of physical memory).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                f"{phys_mb * 3 // 8}m")

    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, join-strategy switching, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Generated-class cache sized to the iterative working set: at
        # Spark's 100 a warm query_iterative pass recompiled ~650 classes,
        # at 1024 it compiles 10-63 (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Deterministic oracle comparison: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas-UDF path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Keep stdout clean for one-line-JSON consumers (bench driver tails
        # the last few KB of output; progress bars would eat that buffer).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
