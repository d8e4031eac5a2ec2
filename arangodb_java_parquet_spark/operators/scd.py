"""Slowly-changing-dimension type-2 merge — the warehouse upsert the
reference's append-only loader cannot express (ParquetArangoLoader.java
always inserts, ParquetArangoLoaderTest.java:118-125 asserts append
semantics). Spark-first formulation: one full-outer join + union, no
MERGE engine required, deterministic output.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from arangodb_java_parquet_spark.materialize import materialize


def scd2_merge(dim: DataFrame, updates: DataFrame, *, key: str,
               attrs: list[str]) -> DataFrame:
    """Apply a batch of updates to an SCD2 history table.

    ``dim``: (key, attrs..., valid_from, valid_to) — NULL valid_to marks
    the current row per key. ``updates``: (key, attrs..., eff_date), at
    most one row per key.

    Semantics (standard type-2):
      * closed history rows pass through untouched;
      * a current row whose key has no update, or whose update carries
        identical attribute values (null-safe), passes through;
      * a current row with a CHANGED update is closed (valid_to = eff);
      * every changed or brand-new key gains a new current row
        (valid_from = eff, valid_to = NULL).

    Scale: one shuffle each side on the key for the full-outer join
    (broadcast the updates side when it is small); the unions are
    partition-local. No window, no collect.
    """
    out_cols = [key, *attrs, "valid_from", "valid_to"]
    hist = dim.filter(F.col("valid_to").isNotNull()).select(*out_cols)
    cur = dim.filter(F.col("valid_to").isNull())

    c = cur.alias("c")
    u = updates.alias("u")
    # lazy-checkpoint the merge join: all three MERGE legs (keep / close /
    # open) filter the SAME full-outer join, and without materialization
    # each leg re-runs the join and the whole updates lineage (10-exchange
    # plans on the customer merge). One materialization, three cheap scans
    # — what a real MERGE engine does internally.
    joined = (c.join(u, F.col(f"c.{key}") == F.col(f"u.{key}"), "full_outer")
              .transform(materialize))
    changed = reduce(lambda a, b: a | b,
                     [~F.col(f"c.{a}").eqNullSafe(F.col(f"u.{a}"))
                      for a in attrs])
    matched = F.col(f"c.{key}").isNotNull() & F.col(f"u.{key}").isNotNull()

    keep = (joined.filter(F.col(f"u.{key}").isNull()
                          | (matched & ~changed))
            .select(F.col(f"c.{key}").alias(key),
                    *[F.col(f"c.{a}").alias(a) for a in attrs],
                    F.col("c.valid_from").alias("valid_from"),
                    F.col("c.valid_to").alias("valid_to")))
    closed = (joined.filter(matched & changed)
              .select(F.col(f"c.{key}").alias(key),
                      *[F.col(f"c.{a}").alias(a) for a in attrs],
                      F.col("c.valid_from").alias("valid_from"),
                      F.col("u.eff_date").alias("valid_to")))
    opened = (joined.filter((matched & changed)
                            | F.col(f"c.{key}").isNull())
              .select(F.col(f"u.{key}").alias(key),
                      *[F.col(f"u.{a}").alias(a) for a in attrs],
                      F.col("u.eff_date").alias("valid_from"),
                      F.lit(None).cast(cur.schema["valid_to"].dataType)
                      .alias("valid_to")))
    return hist.unionByName(keep).unionByName(closed).unionByName(opened)
