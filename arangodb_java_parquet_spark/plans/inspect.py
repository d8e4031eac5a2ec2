"""Physical-plan inspection helpers — the 100 TB-readiness checks as
library functions (used by tests/test_plans.py and available to users for
plan audits before promoting a pipeline to production scale).

SURVEY.md §4: the reference has no plan layer at all; in this engine the
plan IS the performance contract, so these helpers make the important
properties assertable: filters reach the scan, dimensions broadcast,
python stays out of hot paths, partition pruning fires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    """The text ``df.explain(mode)`` prints, returned instead of printed.
    Nothing process-wide (``sys.stdout``) is touched, so threads can
    capture plans concurrently."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def codegen_plan(df: DataFrame) -> str:
    """Codegen view — AQE's formatted mode hides WholeStageCodegen spans."""
    return _explain(df, "codegen")


def has_pushed_filters(df: DataFrame) -> bool:
    p = formatted_plan(df)
    return "PushedFilters: [" in p and "PushedFilters: []" not in p


def has_partition_filters(df: DataFrame) -> bool:
    return "PartitionFilters" in formatted_plan(df)


def has_broadcast_join(df: DataFrame) -> bool:
    p = formatted_plan(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count in the (pre-AQE) formatted plan — the number to argue
    down before a 100× scale-up."""
    return formatted_plan(df).count("Exchange")


def is_python_free(df: DataFrame) -> bool:
    """True when no Python evaluation appears anywhere in the plan (the
    JVM-only requirement for hot-path queries): no python UDF/UDTF
    (``*EvalPython*``) and no pandas or Arrow map (``*InPandas``,
    ``*InArrow``)."""
    p = formatted_plan(df)
    return not any(op in p for op in ("EvalPython", "InPandas", "InArrow"))
