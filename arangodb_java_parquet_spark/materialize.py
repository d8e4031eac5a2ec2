"""Materialization policy — the local-vs-cluster swap as CODE.

Every multi-consumer / iterative subtree in this codebase used to call
``DataFrame.localCheckpoint(eager=False)`` directly. That is right on
local[32] (plan truncation, and one computation of bases Catalyst cannot
ReusedExchange through lambda-HOF subtrees), but it is not free: under
AQE, building the lazy checkpoint's RDD runs every upstream shuffle stage
as its own job when the query is constructed. Turning AQE off around the
lazy ``localCheckpoint`` cut perfbench query_iterative's jobs per pass
from 379 to 236 but did not cut its wall time (19.4 s → 20.9 s per pass,
in-process A/B of 4 alternating passes each; ROADMAP "Where the time
goes"), so the stage jobs stay. On a REAL multi-node cluster
localCheckpoint stores the partitions in executor block managers
WITHOUT lineage: lose an executor and the job fails instead of
recomputing (Spark's documented trade-off; see PERF_NOTES.md "Round 13").

This module turns that hand-off contract into a session-level switch
(VERDICT r13 #2). Call sites declare WHAT they materialize via
``kind``; the mode decides HOW:

==========  =====================  ==================================
kind        mode="local" (default) mode="reliable" (multi-node)
==========  =====================  ==================================
"base"      localCheckpoint(lazy)  persist(MEMORY_AND_DISK_2) — keeps
            shared scan bases      lineage for recovery; re-derives on
                                   eviction. (The restart-safe artifact
                                   path for fitted models stays
                                   operators/models.ensure_model.)
"iter"      localCheckpoint        checkpoint() to the reliable store
            (lazy or eager)        (sparkContext checkpoint dir) —
            loop states            iterative lineages are exactly the
                                   ones whose recomputation is also
                                   expensive, so reliable checkpointing
                                   is what you'd choose anyway.
"scalar"    localCheckpoint(lazy)  NO-OP — 1-row normalizer tables are
                                   materialized locally only to stop
                                   plan-depth blowup in unrolled
                                   iterations; on a cluster the
                                   recompute is free and lineage-safe.
"barrier"   localCheckpoint(lazy)  persist(MEMORY_AND_DISK) — a SINGLE-
            predicate-pushdown     consumer optimization barrier (stops
            block                  Catalyst inlining an expensive
                                   just-projected column into a pushed
                                   filter, the §4.4 duplicated-eval
                                   class). Unlike "base" it is never
                                   re-read by a second consumer, so the
                                   2x-replicated cache would pay a full
                                   replica of the operator's LARGEST
                                   intermediate (every pre-threshold
                                   candidate pair) for pure waste —
                                   non-replicated storage re-derives on
                                   executor loss, which is the right
                                   trade for a one-shot barrier.
==========  =====================  ==================================

Mode resolution (per call, so tests can flip it): Spark conf
``spark.graft.materialize`` if set (at deploy time with
``--conf spark.graft.materialize=reliable``), else "local".
``tests/test_materialize.py`` proves result equality between the two
modes on a representative iterative entry and a shared scan base;
PLAN_REPORT.md is generated in "local" mode and is byte-identical to the
pre-helper plans.

Chained use reads naturally through ``DataFrame.transform``::

    base = df.select(...).transform(materialize)              # kind="base"
    state = state.join(...).transform(materialize, "iter")    # loop state
    norm = df.agg(...).transform(materialize, "scalar")       # 1-row table
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_MODES = ("local", "reliable")
_KINDS = ("base", "iter", "scalar", "barrier")


def materialize_mode(spark) -> str:
    """Resolve the session-level materialization mode."""
    mode = spark.conf.get("spark.graft.materialize", "local")
    if mode not in _MODES:
        raise ValueError(f"spark.graft.materialize={mode!r}; want {_MODES}")
    return mode


def _reliable_checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    sc = df.sparkSession.sparkContext
    # Always check THIS context (one cheap py4j call) — a process-global
    # "already set" flag would skip the fallback for a new SparkContext
    # created after the first one stops (review r14).
    if sc.getCheckpointDir() is None:
        # Local fallback so "reliable" mode is testable without HDFS/S3;
        # a cluster deployment sets sparkContext.setCheckpointDir (or
        # spark.checkpoint.dir) to the shared reliable store instead.
        from arangodb_java_parquet_spark.queries.common import scratch_dir
        sc.setCheckpointDir(scratch_dir("graft_ckpt_"))
    return df.checkpoint(eager=eager)


def materialize(df: DataFrame, kind: str = "base",
                eager: bool = False) -> DataFrame:
    """Materialize a multi-consumer subtree per the session policy."""
    if kind not in _KINDS:
        raise ValueError(f"materialize kind={kind!r}; want {_KINDS}")
    if materialize_mode(df.sparkSession) == "local":
        return df.localCheckpoint(eager=eager)
    if kind == "scalar":
        return df
    if kind == "iter":
        return _reliable_checkpoint(df, eager)
    from pyspark import StorageLevel
    if kind == "barrier":
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df.persist(StorageLevel.MEMORY_AND_DISK_2)
