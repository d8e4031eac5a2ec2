"""exact_percentiles (queries/common.py) must be BIT-IDENTICAL to
Spark's percentile() aggregate — the helper replaces percentile()'s
O(distinct) ObjectHashAggregate with a distributed ranked pass (r16,
VERDICT r15 #5), and every consumer is a value-checked oracle entry, so
the interpolation and the distributed global rank must reproduce the
builtin exactly (including the (n-1)*p position arithmetic and the
(ceil-pos)*lo + (pos-floor)*hi interpolation at every fraction)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arangodb_java_parquet_spark.queries.common import exact_percentiles, t

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

FRACS = [0.01, 0.25, 0.5, 0.75, 0.99]


@pytest.fixture(scope="module")
def spark():
    from arangodb_java_parquet_spark.session import get_spark
    return get_spark(app_name="test_percentile_helper")


def test_global_matches_builtin(spark):
    from pyspark.sql import functions as F
    o = t(spark, SF, "orders")
    want = o.agg(*[F.expr(f"percentile(o_totalprice, {p}D)").alias(f"p{i}")
                   for i, p in enumerate(FRACS)]).collect()[0]
    got = exact_percentiles(
        o, "o_totalprice", FRACS,
        [f"p{i}" for i in range(len(FRACS))]).collect()[0]
    for i in range(len(FRACS)):
        # bitwise equality via repr — the helper feeds hash-checked paths
        assert repr(got[f"p{i}"]) == repr(want[f"p{i}"]), (i, FRACS[i])


def test_grouped_matches_builtin(spark):
    from pyspark.sql import functions as F
    o = t(spark, SF, "orders")
    want = {r["o_orderpriority"]: r for r in o.groupBy("o_orderpriority")
            .agg(*[F.expr(f"percentile(o_totalprice, {p}D)").alias(f"p{i}")
                   for i, p in enumerate(FRACS)]).collect()}
    got = exact_percentiles(
        o, "o_totalprice", FRACS, [f"p{i}" for i in range(len(FRACS))],
        group_cols=("o_orderpriority",)).collect()
    assert len(got) == len(want) > 1
    for r in got:
        w = want[r["o_orderpriority"]]
        for i in range(len(FRACS)):
            assert repr(r[f"p{i}"]) == repr(w[f"p{i}"]), (
                r["o_orderpriority"], i, FRACS[i])


def test_null_and_singleton_semantics(spark):
    """percentile() skips NULLs and interpolates nothing at n == 1."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [("a", 5.0), ("a", None), ("a", 1.0), ("a", 2.0), ("b", 7.5),
         ("b", None)], "g string, x double")
    want = {r["g"]: r for r in df.groupBy("g").agg(
        F.expr("percentile(x, 0.5D)").alias("med"),
        F.expr("percentile(x, 0.9D)").alias("p90")).collect()}
    got = exact_percentiles(df, "x", [0.5, 0.9], ["med", "p90"],
                            group_cols=("g",)).collect()
    assert sorted(r["g"] for r in got) == ["a", "b"]
    for r in got:
        assert repr(r["med"]) == repr(want[r["g"]]["med"])
        assert repr(r["p90"]) == repr(want[r["g"]]["p90"])


def test_plans_hashaggregate_not_objecthash(spark):
    """The point of the rewrite: no ObjectHashAggregate (percentile's
    boxed buffer) anywhere in the helper's plan."""
    from arangodb_java_parquet_spark.plans.inspect import formatted_plan
    o = t(spark, SF, "orders")
    plan = formatted_plan(exact_percentiles(
        o, "o_totalprice", [0.5], ["med"]))
    assert "ObjectHashAggregate" not in plan
    assert "percentile" not in plan
