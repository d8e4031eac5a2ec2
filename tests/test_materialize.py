"""materialize() session switch (VERDICT r13 #2): the localCheckpoint
cluster-reliability hand-off contract from PERF_NOTES.md "Round 13" as
executable code. "local" mode must stay byte-identical to the historic
direct localCheckpoint(eager=False) calls (PLAN_REPORT.md is generated
in this mode); "reliable" mode must produce IDENTICAL results while
swapping the mechanism per entry class (iter -> reliable checkpoint()
with lineage-safe recovery semantics, base -> persist(MEMORY_AND_DISK_2)
which KEEPS lineage, scalar -> no-op)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arangodb_java_parquet_spark import materialize as M
from arangodb_java_parquet_spark.queries import QUERIES

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from arangodb_java_parquet_spark.session import get_spark
    return get_spark(app_name="test_materialize")


def _rows(spark, name):
    df = QUERIES[name](spark, SF)
    return sorted(map(repr, df.collect()))


def _run_in_mode(spark, name, mode):
    spark.conf.set("spark.graft.materialize", mode)
    try:
        return _rows(spark, name)
    finally:
        spark.conf.set("spark.graft.materialize", "local")


# Representative entries per the PERF_NOTES entry classes:
#  - emb_pca_power_iteration: iterative loop state (kind "iter" in
#    the 3-round power iteration) on top of a shared gram base.
#  - timeseries_sample_entropy: shared scan base (the lead-lagged idx
#    projection feeds both sides of the pair join) + scalar tolerance.
@pytest.mark.parametrize("name", [
    "emb_pca_power_iteration", "timeseries_sample_entropy",
    # single-consumer predicate barrier (kind="barrier", ADVICE r15):
    # reliable mode swaps to a NON-replicated persist
    "dedup_fuzzy_levenshtein"])
def test_reliable_mode_matches_local(spark, name):
    local = _run_in_mode(spark, name, "local")
    reliable = _run_in_mode(spark, name, "reliable")
    assert local == reliable
    assert local  # nonzero rows — no vacuous pass


def test_barrier_kind_is_nonreplicated_persist(spark):
    """kind="barrier" must persist WITHOUT replication in reliable mode —
    a single-consumer pushdown block would otherwise pay a 2x-replicated
    cache of the operator's largest intermediate (ADVICE r15)."""
    from pyspark import StorageLevel
    spark.conf.set("spark.graft.materialize", "reliable")
    try:
        df = M.materialize(spark.range(5), "barrier")
        assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
        # a DIFFERENT plan — CacheManager dedups identical plans and
        # would return the barrier entry's storage level
        base = M.materialize(spark.range(7), "base")
        assert base.storageLevel == StorageLevel.MEMORY_AND_DISK_2
        base.unpersist()
        df.unpersist()
    finally:
        spark.conf.set("spark.graft.materialize", "local")


def test_mode_resolution_and_kind_validation(spark):
    assert M.materialize_mode(spark) == "local"
    spark.conf.set("spark.graft.materialize", "reliable")
    try:
        assert M.materialize_mode(spark) == "reliable"
        df = spark.range(3)
        # scalar is a no-op in reliable mode: same plan object semantics
        assert M.materialize(df, "scalar") is df
    finally:
        spark.conf.set("spark.graft.materialize", "local")
    with pytest.raises(ValueError):
        M.materialize(spark.range(1), "bogus")
    spark.conf.set("spark.graft.materialize", "nonsense")
    try:
        with pytest.raises(ValueError):
            M.materialize_mode(spark)
    finally:
        spark.conf.set("spark.graft.materialize", "local")


def test_no_direct_localcheckpoint_call_sites():
    """The swap contract only holds if call sites go through
    materialize() — a direct .localCheckpoint( call in queries/,
    operators/, functions/ or streaming/ would silently opt out of
    reliable mode. (materialize.py itself implements local mode.)"""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "arangodb_java_parquet_spark")
    bad = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py") or fn == "materialize.py":
                continue
            p = os.path.join(dirpath, fn)
            for i, line in enumerate(open(p), 1):
                if ".localCheckpoint(" in line:
                    bad.append(f"{p}:{i}")
    assert not bad, f"direct localCheckpoint call sites: {bad}"
