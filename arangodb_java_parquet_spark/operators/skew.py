"""Skew-handling operators: salted two-stage aggregation.

Hot grouping keys (a handful of event types over billions of rows, the
power-law reality of every event/log table) make one reducer the straggler.
The classic fix: append a random-ish salt to the key, pre-aggregate
(key, salt) — spreading each hot key over N reducers — then merge the
partials in a second, tiny aggregation.

Results are EXACTLY equal to the unsalted aggregation for decomposable
aggregates (sum/count/min/max); the oracle checks that. The salt here is
deterministic (hash of a row-unique column mod N) so runs are reproducible.

Note Spark's AQE skew handling covers JOIN skew, not aggregation skew —
partial aggregation usually hides agg skew, but high-cardinality-payload
aggs (collect_list, exact distinct counting per hot key) still need the
salt pattern; this operator is the template.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# salts of salted_agg's first stage
AGG_SALTS = 16


def salted_agg(df: DataFrame, key: str, salt_src: str,
               aggs: dict) -> DataFrame:
    """Two-stage salted aggregation over AGG_SALTS salts.

    ``aggs`` maps output column name -> (stage1_agg_fn, stage2_merge_fn),
    each a ``Column -> Column`` (e.g. count then sum of partial counts).
    ``salt_src`` is any row-level column whose hash spreads rows uniformly.
    """
    salt = (F.abs(F.hash(F.col(salt_src))) % AGG_SALTS).alias("__salt")
    stage1 = (df.withColumn("__salt", salt)
              .groupBy(key, "__salt")
              .agg(*[fn1(F.col(c_in)).alias(f"__p_{out}")
                     for out, (c_in, fn1, _fn2) in aggs.items()]))
    stage2 = (stage1.groupBy(key)
              .agg(*[fn2(F.col(f"__p_{out}")).alias(out)
                     for out, (_c, _f1, fn2) in aggs.items()]))
    return stage2


def salted_join(big: DataFrame, small: DataFrame, key: str, *,
                n_salts: int = 8, salt_src: str) -> DataFrame:
    """Skew-mitigating inner equi-join: the big side gets a deterministic
    salt in [0, n_salts) from a row-unique column's md5, the small side is
    replicated once per salt value (explode of a literal sequence), and
    the join runs on (key, salt) — a hot key's rows spread across
    ``n_salts`` reducers instead of one straggler.

    Result set is EXACTLY the plain inner join (each big row still meets
    every matching small row exactly once — under exactly one salt).
    Replication multiplies the small side by n_salts, so this is for a
    modest build side with a skewed probe side; with a truly tiny build
    side just broadcast() instead, and note AQE's skew-join split covers
    the sort-merge case when statistics catch it — this operator is the
    explicit, planner-independent fallback.

    ``salt_src`` must be a ROW-UNIQUE (or at least high-cardinality,
    key-independent) column: a salt derived from the join key itself is a
    pure function of the key, so every row of a hot key lands in the SAME
    salt bucket — zero mitigation while still paying the n_salts-x
    replication. It is therefore required and checked.

    md5 salt (not F.hash) keeps runs portable/reproducible per the
    determinism rules.
    """
    if salt_src == key:
        raise ValueError(
            f"salt_src must not be the join key {key!r}: a key-derived "
            "salt sends every row of a hot key to the same bucket "
            "(no skew mitigation, full replication cost). Pass a "
            "row-unique column.")
    src = salt_src
    salt = (F.conv(F.substring(
        F.md5(F.concat(F.lit("salt:"), F.col(src).cast("string"))),
        1, 8), 16, 10).cast("long") % n_salts).alias("__salt")
    b = big.withColumn("__salt", salt)
    s = (small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0).cast("long"),
                                       F.lit(n_salts - 1).cast("long")))))
    # plan-local shuffle_hash hint: salting only makes sense on the
    # SHUFFLE join path (a broadcast join has no reducer skew to spread,
    # and at demo scale Catalyst would happily broadcast the build side,
    # silently exercising nothing). A hint scopes to this join only — no
    # session-config leak into other queries.
    return b.join(s.hint("shuffle_hash"), [key, "__salt"]).drop("__salt")
