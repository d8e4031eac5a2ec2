"""SQL UDTF surface (SURVEY.md §2.2 UDF/UDAF/UDTF row).

PySpark 4 Python UDTFs: a class with ``eval`` yielding zero or more rows
per input row, registered under a SQL name and invoked in the lateral
position (``FROM t, LATERAL my_udtf(t.col)``). This is the
table-function analog of the reference's per-value converter surface —
user code that EXPANDS a value into rows, where scalar UDFs map 1:1.

Python UDTFs are a Python-side path by construction (like the loader's
write stage): keep them out of large-scale hot paths — every operator in this
repo that CAN be a JVM expression is one; the UDTF exists for semantics
Spark SQL cannot express declaratively.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="pos int, token string")
class TokenizeUDTF:
    """Whitespace tokenizer: one (position, token) row per token.

    Mirrors Python ``str.split(' ')`` exactly (DuckDB's
    ``string_split(text, ' ')`` has identical semantics, including the
    single empty token for an empty string), so results are
    oracle-checkable.
    """

    def eval(self, text: str):
        if text is None:
            return
        for i, tok in enumerate(text.split(" ")):
            yield i, tok


def register_udtfs(spark) -> None:
    """Register every UDTF under its SQL name (idempotent)."""
    spark.udtf.register("ajps_tokenize", TokenizeUDTF)
