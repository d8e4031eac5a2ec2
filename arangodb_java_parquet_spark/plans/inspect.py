"""Physical-plan inspection helpers — the 100 TB-readiness checks as
library functions (used by tests/test_plans.py and available to users for
plan audits before promoting a pipeline to production scale).

SURVEY.md §4: the reference has no plan layer at all; in this engine the
plan IS the performance contract, so these helpers make the important
properties assertable — above all that python stays out of hot paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Plan-operator name fragments of every Python evaluation: python UDFs and
# UDTFs (``*EvalPython*``) and pandas or Arrow maps (``*InPandas``,
# ``*InArrow``). tools/plan_report.py counts the same set.
PYTHON_OPERATORS = ("EvalPython", "InPandas", "InArrow")


def _explain(df: DataFrame, mode: str) -> str:
    """The text ``df.explain(mode)`` prints, returned instead of printed.
    Nothing process-wide (``sys.stdout``) is touched, so threads can
    capture plans concurrently."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def is_python_free(df: DataFrame) -> bool:
    """True when no Python evaluation (``PYTHON_OPERATORS``) appears
    anywhere in the plan — the JVM-only requirement for hot-path
    queries."""
    p = formatted_plan(df)
    return not any(op in p for op in PYTHON_OPERATORS)
