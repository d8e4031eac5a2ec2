import os
import sys
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arangodb_java_parquet_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def complex_cols(schema):
    """Top-level ARRAY/MAP/STRUCT column names of ``schema``."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    return [f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


class EntryFacts(NamedTuple):
    complex_cols: list
    python_free: bool
    cartesian: bool


@pytest.fixture(scope="session")
def oracle_entry_facts(spark):
    """One construction sweep over the oracle-bearing batch entries at
    SF_SMOKE, shared by the registry-wide gates: per entry only its
    complex output columns, whether it plans python-free and whether its
    plan holds a CartesianProduct — no DataFrame outlives the sweep.
    Streaming entries are excluded: constructing them runs the stream."""
    from arangodb_java_parquet_spark.plans import (formatted_plan,
                                                   is_python_free)
    from arangodb_java_parquet_spark.queries import ORACLES, QUERIES
    facts = {}
    for name in ORACLES:
        if name.startswith("stream"):
            continue
        df = QUERIES[name](spark, SF_SMOKE)
        facts[name] = EntryFacts(
            complex_cols(df.schema), is_python_free(df),
            "CartesianProduct" in formatted_plan(df))
    return facts
