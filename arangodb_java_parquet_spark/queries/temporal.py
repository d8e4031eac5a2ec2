"""Temporal query inventory: range join, as-of join, tumbling window
aggregation, sessionization — the time-series surface a training-data /
event pipeline needs (SURVEY.md §2.2 joins row: range/as-of; §7 phase 4).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.temporal import asof_join, sessionize
from arangodb_java_parquet_spark.queries.common import dsum, query, sql_dsum, t


@query("join_range_interval", f"""
SELECT l.l_orderkey, o.o_orderkey, COUNT(*) AS n_lines,
       {sql_dsum('l.l_extendedprice')} AS total_price
FROM orders o
JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
GROUP BY l.l_orderkey, o.o_orderkey
""")
def join_range_interval(spark, sf_dir):
    """Equi + range (interval) join: lineitems shipped within 60 days of the
    order date. The equi key carries the shuffle; the range predicate is a
    post-join filter — the scalable shape for equi+range conditions."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cond = ((li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")))
    return (li.join(o, cond)
            .groupBy("l_orderkey", "o_orderkey")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 dsum("l_extendedprice").alias("total_price")))


@query("join_asof_backward", """
SELECT e.event_id, e.user_id, e.ts,
       (SELECT MAX(o.o_orderdate) FROM orders o
        WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
       AS asof_o_orderdate
FROM events e
""")
def join_asof_backward(spark, sf_dir):
    """As-of join (backward): latest order at-or-before each event, per user.

    Uses the union+window formulation from operators/temporal.py — one
    shuffle, no cross-match materialization (see its docstring for the
    100 TB argument)."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    return asof_join(e, o, on="user_id", right_on="o_custkey",
                     left_time="ts", right_time="o_orderdate",
                     value_cols=["o_orderdate"]
                     ).select("event_id", "user_id", "ts", "asof_o_orderdate")


@query("join_asof_forward", """
SELECT e.event_id, e.user_id, e.ts,
       (SELECT MIN(o.o_orderdate) FROM orders o
        WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts)
       AS asof_o_orderdate
FROM events e
""")
def join_asof_forward(spark, sf_dir):
    """As-of join (forward): earliest order at-or-after each event, per
    user — same one-shuffle union+window formulation with a following
    frame (operators/temporal.py)."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    return asof_join(e, o, on="user_id", right_on="o_custkey",
                     left_time="ts", right_time="o_orderdate",
                     value_cols=["o_orderdate"], direction="forward"
                     ).select("event_id", "user_id", "ts", "asof_o_orderdate")


@query("join_asof_nearest", """
SELECT e.event_id, e.user_id, e.ts,
       (SELECT o.o_orderdate FROM orders o
        WHERE o.o_custkey = e.user_id
        ORDER BY abs(epoch_us(CAST(e.ts AS TIMESTAMP))
                     - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))),
                 o.o_orderdate
        LIMIT 1)
       AS asof_o_orderdate
FROM events e
""")
def join_asof_nearest(spark, sf_dir):
    """As-of join (nearest): the time-closest order per event, ties to the
    earlier (backward) side — one shuffle, both direction passes over the
    same exchange (operators/temporal.py). Oracle: per-event ORDER BY
    absolute distance with the date as tiebreak (earlier date == backward
    preference)."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    return asof_join(e, o, on="user_id", right_on="o_custkey",
                     left_time="ts", right_time="o_orderdate",
                     value_cols=["o_orderdate"], direction="nearest"
                     ).select("event_id", "user_id", "ts", "asof_o_orderdate")


@query("window_tumbling_agg", f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
""")
def window_tumbling_agg(spark, sf_dir):
    """Tumbling 1-hour event-time windows (batch form of the streaming
    windowed agg; streaming/ runs the same plan incrementally)."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").start.alias("win_start"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("sum_value")))


@query("join_asof_tolerance", """
SELECT e.event_id, e.user_id, e.ts,
       (SELECT MAX(o.o_orderdate) FROM orders o
        WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
          AND CAST(o.o_orderdate AS TIMESTAMP)
              >= CAST(e.ts AS TIMESTAMP) - INTERVAL 7 DAY)
       AS asof_o_orderdate
FROM events e
""")
def join_asof_tolerance(spark, sf_dir):
    """As-of join with max staleness (pandas merge_asof tolerance): the
    latest order at-or-before each event, but only if within 7 days —
    older matches are masked to NULL. The tolerance is a post-match mask
    on the one-shuffle union+window plan (operators/temporal.py), not an
    extra join."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    return asof_join(e, o, on="user_id", right_on="o_custkey",
                     left_time="ts", right_time="o_orderdate",
                     value_cols=["o_orderdate"],
                     tolerance_seconds=7 * 86400
                     ).select("event_id", "user_id", "ts", "asof_o_orderdate")


@query("window_hopping_agg", f"""
SELECT time_bucket(INTERVAL '30 minutes', ts)
         - u.k * INTERVAL '30 minutes' AS win_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events, (SELECT UNNEST(range(0, 2)) AS k) u
GROUP BY 1, 2
""")
def window_hopping_agg(spark, sf_dir):
    """Hopping (sliding) event-time windows: 1-hour windows every 30
    minutes — each event lands in exactly 2 overlapping windows
    (``F.window(ts, size, slide)``; the streaming form is the same
    expression over stream_table). The oracle reproduces the window
    assignment by exploding each event into its size/slide bucket
    offsets — both engines' 30-minute buckets are epoch-aligned."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy(
        F.window("ts", "1 hour", "30 minutes").start.alias("win_start"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value").alias("sum_value")))


@query("events_enriched_by_segment", f"""
SELECT c.c_mktsegment AS segment, e.event_type,
       COUNT(*) AS n_events,
       {sql_dsum('e.value')} AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""")
def events_enriched_by_segment(spark, sf_dir):
    """Dimension enrichment of the event stream (batch twin of the
    stream-static broadcast join in streaming/): events ⋈ broadcast
    customer, aggregated by segment × type."""
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    return (e.join(F.broadcast(c), e.user_id == c.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("sum_value")))


@query("agg_salted_skew", f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       CAST(MAX(value) AS DOUBLE) AS max_value
FROM events
GROUP BY event_type
""")
def agg_salted_skew(spark, sf_dir):
    """Skew-resistant aggregation over the genuinely-skewed event_type key
    (5 hot keys): salted two-stage agg (operators/skew.py), value-checked
    against the plain GROUP BY oracle — salting must not change results."""
    from arangodb_java_parquet_spark.operators.skew import salted_agg
    e = t(spark, sf_dir, "events")
    dec = "decimal(30,8)"
    return salted_agg(
        e, key="event_type", salt_src="event_id",
        aggs={
            "n_events": ("event_id", F.count, F.sum),
            "sum_value": ("value",
                          lambda c: F.sum(c.cast(dec)),
                          lambda c: F.sum(c).cast("double")),
            "max_value": ("value",
                          lambda c: F.max(c),
                          lambda c: F.max(c).cast("double")),
        })


@query("sessionize_events", """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts,
       CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT)
       AS session_seq
FROM flagged
""")
def sessionize_events(spark, sf_dir):
    """Sessionization with a 30-minute inactivity gap (lag + cumulative
    boundary flags; one shuffle on user_id)."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return (sessionize(e, key="user_id", time="ts", gap=F.lit(1800.0),
                       tiebreak=["event_id"])
            .select("user_id", "event_id", "ts", "session_seq"))


_SCD2_SQL = """
WITH upd0 AS (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(30,8))
              + SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE)
           AS acctbal,
         c_mktsegment AS mktsegment
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate >= DATE '1995-01-01'
    AND o_orderdate <  DATE '1995-07-01'
  GROUP BY c_custkey, c_acctbal, c_mktsegment
),
upd AS (
  SELECT c_custkey, acctbal, mktsegment FROM upd0
  UNION ALL
  SELECT c_custkey + 10000000, acctbal, 'NEW' FROM upd0
  WHERE c_custkey % 211 = 0
)
SELECT c_custkey, c_acctbal AS acctbal, c_mktsegment AS mktsegment,
       DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
UNION ALL
SELECT c_custkey, c_acctbal, c_mktsegment,
       DATE '1990-01-01', DATE '1995-07-01'
FROM customer JOIN upd0 USING (c_custkey)
UNION ALL
SELECT c_custkey, acctbal, mktsegment,
       DATE '1995-07-01', CAST(NULL AS DATE)
FROM upd
"""


@query("scd2_merge_customers", _SCD2_SQL)
def scd2_merge_customers(spark, sf_dir):
    """Slowly-changing-dimension type-2 merge (operators/scd.py): the
    customer dim is the current history (open rows), a half-year of order
    revenue produces balance updates, plus a slice of brand-new keys.
    Unchanged rows pass through, changed rows are closed at the effective
    date and re-opened with the new balance, new keys open fresh rows —
    Delta-style MERGE semantics from one full-outer join + unions, no
    MERGE engine. Exact decimal balance arithmetic keeps the doubles
    hash-identical cross-engine."""
    from arangodb_java_parquet_spark.operators.scd import scd2_merge
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    dim = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.to_date(F.lit("1990-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"))
    upd0 = (o.filter((F.col("o_orderdate") >= "1995-01-01")
                     & (F.col("o_orderdate") < "1995-07-01"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_custkey", "c_acctbal", "c_mktsegment")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                 .alias("__rev"))
            .select("c_custkey",
                    (F.col("c_acctbal").cast("decimal(30,8)")
                     + F.col("__rev")).cast("double").alias("acctbal"),
                    F.col("c_mktsegment").alias("mktsegment")))
    updates = (upd0.unionByName(
        upd0.filter(F.col("c_custkey") % 211 == 0)
        .select((F.col("c_custkey") + 10000000).alias("c_custkey"),
                "acctbal", F.lit("NEW").alias("mktsegment")))
        .withColumn("eff_date", F.to_date(F.lit("1995-07-01"))))
    return scd2_merge(dim, updates, key="c_custkey",
                      attrs=["acctbal", "mktsegment"])


_SALTED_JOIN_SQL = f"""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice')} AS sum_price,
       COUNT(DISTINCT p_brand) AS n_brands
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 25
GROUP BY l_returnflag
"""


@query("join_skew_salted", _SALTED_JOIN_SQL)
def join_skew_salted(spark, sf_dir):
    """Salted skew join (operators/skew.py:salted_join): lineitem's salt
    comes from md5(l_orderkey) so a hot part key's rows spread over 8
    reducers; the part side is replicated 8x via an exploded sequence and
    the join runs on (key, salt). Result is EXACTLY the plain inner join
    — the oracle is the unsalted SQL — aggregated per returnflag so the
    checked output stays compact. Planner-independent counterpart to AQE's
    skew-join split (which only triggers on sort-merge statistics)."""
    from arangodb_java_parquet_spark.operators.skew import salted_join
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_returnflag", "l_extendedprice")
    p = (t(spark, sf_dir, "part")
         .filter(F.col("p_size") <= 25)
         .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
    joined = salted_join(li, p, "l_partkey", n_salts=8,
                         salt_src="l_orderkey")
    return (joined.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 dsum("l_extendedprice").alias("sum_price"),
                 F.countDistinct("p_brand").alias("n_brands")))


_SESSION_NATIVE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM sess
GROUP BY user_id, sid
"""


@query("window_session_native", _SESSION_NATIVE_SQL)
def window_session_native(spark, sf_dir):
    """Spark's NATIVE session_window aggregation (merging event-time
    sessions with a 30-min inactivity gap inside the agg operator itself)
    value-checked against the classic gaps-and-islands SQL — proving the
    built-in operator computes exactly the lag+cumulative-flag
    sessionization (session end = last event + gap, per Spark's
    definition). One shuffle on the grouping key; this is the batch twin
    of the streaming session window and the native counterpart of
    operators/temporal.py:sessionize."""
    e = t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (e.groupBy(sw, "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("sum_value"))
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events", "sum_value"))


_HOUR_US = 3_600_000_000
_TOL_US = 6 * _HOUR_US          # match window: +/- 6 hours


@query("join_range_binned", f"""
SELECT p.event_id,
       COUNT(*) AS n_clicks,
       CAST(SUM(CAST(c.value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
FROM events p
JOIN events c
  ON c.event_type = 'click'
 AND epoch_us(CAST(c.ts AS TIMESTAMP))
       >= epoch_us(CAST(p.ts AS TIMESTAMP)) - {_TOL_US}
 AND epoch_us(CAST(c.ts AS TIMESTAMP))
       <= epoch_us(CAST(p.ts AS TIMESTAMP)) + {_TOL_US}
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""")
def join_range_binned(spark, sf_dir):
    """PURE range join (no equi key: every click within ±6 h of each
    purchase, across ALL users) executed scalably via BINNING — the
    technique OSS Spark lacks a native strategy for: the naive
    formulation is a BroadcastNestedLoopJoin (quadratic at scale). Each
    purchase maps to its 12-hour epoch bin; each click explodes into the
    <= 2 bins its ±6 h match-window can reach; the join becomes an EQUI
    join on bin followed by the exact range filter. r15 replaced the
    bin join itself: because every output aggregate is a SUM/COUNT over
    a contiguous time interval, the per-bin pair products (110M
    intermediate rows at sf0.1) collapse into a DISTRIBUTED PREFIX SCAN
    — each purchase contributes a +1 boundary row at p+tol and a -1 row
    at p-tol-1us, unioned with the click stream; one range-partitioned
    running (count, decimal-sum) pass gives every boundary its prefix,
    and window_sum = prefix(hi) - prefix(lo) exactly (decimal partials
    are exact, so the difference equals the direct interval sum
    bit-for-bit; all-NULL-value windows are tracked by a separate
    non-null prefix count so they still yield NULL). The scan is the
    textbook scalable shape: repartitionByRange on (t, kind) -> local
    running aggregates per partition -> tiny per-partition totals
    rolled into broadcast offsets (never a global single-task window).
    Measured 3.0 s -> 1.5 s at sf0.1 while removing the O(|p|x|c|/bins)
    intermediate entirely. The oracle still states the naive range
    predicate directly."""
    e = t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = (e.filter(F.col("event_type") == "click")
              .select(ts_us.alias("t"),
                      F.col("value").cast("decimal(30,8)").alias("v"),
                      F.lit(0).alias("kind"),
                      F.lit(None).cast("bigint").alias("event_id"),
                      F.lit(0).alias("sign")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select("event_id", ts_us.alias("p_us")))
    hi = p.select((F.col("p_us") + _TOL_US).alias("t"),
                  F.lit(None).cast("decimal(30,8)").alias("v"),
                  F.lit(1).alias("kind"), "event_id",
                  F.lit(1).alias("sign"))
    lo = p.select((F.col("p_us") - _TOL_US - 1).alias("t"),
                  F.lit(None).cast("decimal(30,8)").alias("v"),
                  F.lit(1).alias("kind"), "event_id",
                  F.lit(-1).alias("sign"))
    u = clicks.unionAll(hi).unionAll(lo)
    zero = F.lit(0).cast("decimal(30,8)")
    n = u.sparkSession.sparkContext.defaultParallelism
    # clicks sort BEFORE boundaries at the same microsecond (kind 0 < 1)
    # so both interval ends are inclusive of ties. The materialize pins
    # ONE set of sampled range boundaries: the local-prefix and
    # per-partition-total subtrees must see identical pids.
    rb = (u.repartitionByRange(n, "t", "kind")
          .withColumn("pid", F.spark_partition_id())
          .transform(materialize))
    wl = (W.partitionBy("pid").orderBy("t", "kind")
          .rowsBetween(W.unboundedPreceding, 0))
    loc = rb.select(
        "pid", "kind", "event_id", "sign",
        F.count(F.when(F.col("kind") == 0, 1)).over(wl).alias("lcnt"),
        F.count("v").over(wl).alias("lcntv"),
        F.coalesce(F.sum("v").over(wl), zero).alias("lsv"))
    tot = rb.groupBy("pid").agg(
        F.count(F.when(F.col("kind") == 0, 1)).alias("tcnt"),
        F.count("v").alias("tcntv"),
        F.coalesce(F.sum("v"), zero).alias("tsv"))
    wo = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    off = tot.select(
        "pid",
        F.coalesce(F.sum("tcnt").over(wo), F.lit(0)).alias("ocnt"),
        F.coalesce(F.sum("tcntv").over(wo), F.lit(0)).alias("ocntv"),
        F.coalesce(F.sum("tsv").over(wo), zero).alias("osv"))
    pref = (loc.join(F.broadcast(off), "pid")
            .select("kind", "event_id", "sign",
                    (F.col("lcnt") + F.col("ocnt")).alias("cnt"),
                    (F.col("lcntv") + F.col("ocntv")).alias("cntv"),
                    (F.col("lsv") + F.col("osv")).alias("sv")))
    bounds = pref.filter(F.col("kind") == 1)
    return (bounds.groupBy("event_id")
            .agg(F.sum(F.col("sign") * F.col("cnt")).alias("n_clicks"),
                 F.sum(F.col("sign") * F.col("cntv")).alias("n_vals"),
                 F.sum(F.when(F.col("sign") == 1, F.col("sv"))
                       .otherwise(-F.col("sv"))).alias("sv"))
            .filter(F.col("n_clicks") > 0)
            .select("event_id", "n_clicks",
                    F.when(F.col("n_vals") > 0,
                           F.col("sv").cast("double")).alias("sum_value")))


@query("scd2_point_in_time", f"""
WITH history AS ({_SCD2_SQL})
SELECT c_custkey, acctbal, mktsegment, valid_from, valid_to
FROM history
WHERE valid_from <= DATE '1995-03-15'
  AND (valid_to IS NULL OR valid_to > DATE '1995-03-15')
  AND c_custkey % 7 = 0
""")
def scd2_point_in_time(spark, sf_dir):
    """POINT-IN-TIME lookup against the SCD2 history — the query the
    dimension exists for: 'what did these customers look like on
    1995-03-15?' is one validity-interval predicate over the merged
    history (valid_from <= t < valid_to, open rows unbounded). Composes
    the verified scd2 merge; at scale the history is partitioned by
    valid_from range so the as-of predicate prunes partitions."""
    from arangodb_java_parquet_spark.queries.common import QUERIES
    hist = QUERIES["scd2_merge_customers"](spark, sf_dir)
    asof = F.lit("1995-03-15").cast("date")
    return (hist.filter((F.col("valid_from") <= asof)
                        & (F.col("valid_to").isNull()
                           | (F.col("valid_to") > asof))
                        & (F.col("c_custkey") % 7 == 0)))


@query("join_events_scd2_interval", f"""
WITH history AS ({_SCD2_SQL})
SELECT o.o_orderkey, o.o_custkey,
       h.acctbal AS acctbal_at_order,
       h.mktsegment AS segment_at_order,
       h.valid_to IS NOT NULL AS from_closed_row
FROM orders o
JOIN history h
  ON h.c_custkey = o.o_custkey
 AND h.valid_from <= CAST(o.o_orderdate AS DATE)
 AND (h.valid_to IS NULL OR h.valid_to > CAST(o.o_orderdate AS DATE))
WHERE o.o_orderkey < 8000
""")
def join_events_scd2_interval(spark, sf_dir):
    """TEMPORAL DIMENSION ENRICHMENT — the classic warehouse join the
    SCD2 history exists for: attach to each fact row (orders) the
    dimension attributes that were VALID AT THE FACT'S OWN TIME, via the
    validity-interval predicate (valid_from <= t < valid_to, open rows
    unbounded). One equi-join on the key with the interval check as a
    residual condition — Spark plans the key equi-join (shuffle or
    broadcast), so the range part never degenerates into a
    nested-loop; at scale the history is a fraction of the fact table
    and broadcasts. Composes the verified scd2 merge; facts before the
    effective date resolve to the closed row (flagged), facts after to
    the re-opened one."""
    from arangodb_java_parquet_spark.queries.common import QUERIES
    hist = QUERIES["scd2_merge_customers"](spark, sf_dir)
    o = (t(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") < 8000)
         .select("o_orderkey", "o_custkey",
                 F.col("o_orderdate").cast("date").alias("od")))
    cond = ((hist.c_custkey == o.o_custkey)
            & (hist.valid_from <= o.od)
            & (hist.valid_to.isNull() | (hist.valid_to > o.od)))
    return (o.join(hist, cond)
            .select("o_orderkey", "o_custkey",
                    F.col("acctbal").alias("acctbal_at_order"),
                    F.col("mktsegment").alias("segment_at_order"),
                    F.col("valid_to").isNotNull().alias("from_closed_row")))
