"""Data-lifecycle and graph-diagnostic queries: gaps-and-islands interval
merging, rolling exact medians, snapshot CDC diff, weighted reservoir
sampling, and triangle counting over the similarity graph.

All beyond-reference mandate (the reference loader has no analytics
surface). Determinism follows queries/common.py rules: md5-derived
uniforms, round-9 float sort keys with unique tiebreaks, exact timestamp
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.dedup import (
    char_shingles, lsh_candidate_pairs, lsh_candidate_pairs_capped,
    minhash_signatures)
from arangodb_java_parquet_spark.queries.common import query, t
from arangodb_java_parquet_spark.queries.text_pipeline import (
    _MINHASH_SIG_SQL, capped_pairs_cte_sql, lsh_pairs_cte_sql)


# ---------------------------------------------------------------------------
# gaps and islands: merge overlapping activity intervals
# ---------------------------------------------------------------------------

@query("intervals_merge_islands", """
WITH iv AS (
  SELECT o_custkey AS custkey,
         o_orderdate AS s,
         o_orderdate + INTERVAL 30 DAY AS e,
         o_orderkey
  FROM orders
),
m AS (
  SELECT *,
         MAX(e) OVER (PARTITION BY custkey ORDER BY s, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
),
fl AS (
  SELECT *,
         CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
           AS new_isl
  FROM m
),
isl AS (
  SELECT *,
         SUM(new_isl) OVER (PARTITION BY custkey ORDER BY s, o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS island_id
  FROM fl
)
SELECT custkey, CAST(island_id AS BIGINT) AS island_id,
       MIN(s) AS island_start, MAX(e) AS island_end,
       COUNT(*) AS n_orders
FROM isl
GROUP BY 1, 2
""")
def intervals_merge_islands(spark, sf_dir):
    """Gaps-and-islands: merge each customer's overlapping 30-day activity
    intervals into maximal islands — the classic sessionize-by-overlap
    rewrite (running MAX(end) over the per-key order, flag starts past it,
    prefix-sum the flags into island ids). Windows partition by customer,
    so state per task is one customer's orders — scales to any number of
    customers; no self-join, no interval explosion."""
    o = t(spark, sf_dir, "orders")
    iv = o.select(F.col("o_custkey").alias("custkey"),
                  F.col("o_orderdate").alias("s"),
                  (F.col("o_orderdate")
                   + F.expr("INTERVAL 30 DAY")).alias("e"),
                  "o_orderkey")
    w_prev = (Window.partitionBy("custkey").orderBy("s", "o_orderkey")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("custkey").orderBy("s", "o_orderkey")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = (iv.withColumn("prev_max_e", F.max("e").over(w_prev))
               .withColumn("new_isl",
                           F.when(F.col("prev_max_e").isNull()
                                  | (F.col("s") > F.col("prev_max_e")), 1)
                           .otherwise(0)))
    islands = flagged.withColumn(
        "island_id", F.sum("new_isl").over(w_run))
    return (islands.groupBy("custkey", "island_id")
            .agg(F.min("s").alias("island_start"),
                 F.max("e").alias("island_end"),
                 F.count(F.lit(1)).alias("n_orders")))


# ---------------------------------------------------------------------------
# rolling exact median (aggregate-as-window-function)
# ---------------------------------------------------------------------------

@query("window_rolling_median", """
SELECT o_custkey, o_orderkey, o_orderdate,
       ROUND(median(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 9) AS rolling_median
FROM orders
""")
def window_rolling_median(spark, sf_dir):
    """Exact rolling median of order value over each customer's trailing 5
    orders — an arbitrary AGGREGATE used as a window function over a ROWS
    frame (percentile(0.5) in Spark, median in DuckDB; both interpolate at
    even counts). Per-customer partitions keep frame state tiny; round-9
    absorbs the interpolation's last-ulp division."""
    o = t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(-4, Window.currentRow))
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.round(F.expr("percentile(o_totalprice, 0.5)").over(w), 9)
        .alias("rolling_median"))


# ---------------------------------------------------------------------------
# snapshot CDC diff
# ---------------------------------------------------------------------------

_CDC_NEW_SQL = """
  SELECT c_custkey, c_acctbal + (CASE WHEN c_custkey % 10 = 7
                                      THEN 100.0 ELSE 0.0 END) AS c_acctbal
  FROM customer WHERE c_custkey % 10 <> 3
  UNION ALL
  SELECT c_custkey + 10000000, c_acctbal
  FROM customer WHERE c_custkey % 10 = 5
"""


@query("snapshot_cdc_diff", f"""
WITH old_snap AS (SELECT c_custkey, c_acctbal FROM customer),
new_snap AS ({_CDC_NEW_SQL})
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'added'
            WHEN n.c_custkey IS NULL THEN 'deleted'
            ELSE 'changed' END AS change_type,
       o.c_acctbal AS old_bal, n.c_acctbal AS new_bal
FROM old_snap o FULL OUTER JOIN new_snap n ON o.c_custkey = n.c_custkey
WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
   OR o.c_acctbal <> n.c_acctbal
""")
def snapshot_cdc_diff(spark, sf_dir):
    """Snapshot-diff change data capture: full outer join of two table
    snapshots on the key, classifying added / deleted / changed rows (the
    new snapshot is derived deterministically from the old: key%10=3
    deleted, key%10=7 acctbal+100, key%10=5 cloned under a shifted key).
    One equi-join shuffle on the key — the standard incremental-ingest
    reconciliation; at 100 TB both sides are key-partitioned parquet so
    the join co-locates."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    new_snap = (c.filter(F.col("c_custkey") % 10 != 3)
                .withColumn("c_acctbal",
                            F.col("c_acctbal")
                            + F.when(F.col("c_custkey") % 10 == 7, 100.0)
                            .otherwise(0.0))
                .unionAll(c.filter(F.col("c_custkey") % 10 == 5)
                          .withColumn("c_custkey",
                                      F.col("c_custkey") + 10000000)))
    o = c.alias("o")
    n = new_snap.alias("n")
    joined = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"),
                    "full_outer")
    change = (F.when(F.col("o.c_custkey").isNull(), "added")
              .when(F.col("n.c_custkey").isNull(), "deleted")
              .otherwise("changed"))
    return (joined
            .filter(F.col("o.c_custkey").isNull()
                    | F.col("n.c_custkey").isNull()
                    | (F.col("o.c_acctbal") != F.col("n.c_acctbal")))
            .select(F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey"))
                    .alias("c_custkey"),
                    change.alias("change_type"),
                    F.col("o.c_acctbal").alias("old_bal"),
                    F.col("n.c_acctbal").alias("new_bal")))


# ---------------------------------------------------------------------------
# weighted sampling (Efraimidis–Spirakis A-ES, deterministic)
# ---------------------------------------------------------------------------

@query("sample_weighted_topk", """
WITH keyed AS (
  SELECT doc_id, lang, source, n_chars,
         ROUND(LN((CAST(CAST('0x' || substring(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
               / GREATEST(n_chars, 1), 9) AS es_key
  FROM documents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY es_key DESC, doc_id) AS rnk
  FROM keyed
)
SELECT doc_id, lang, source, n_chars, es_key, rnk
FROM ranked WHERE rnk <= 20
""")
def sample_weighted_topk(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    per-language top-20 by key ln(u)/w with u an md5-derived uniform and
    w = n_chars — longer documents are proportionally likelier, and the
    sample is bit-reproducible on any engine or partitioning (unlike RNG
    sampling). One window per stratum; at scale the same key feeds a
    per-partition top-k (TakeOrdered) instead of a full sort."""
    d = t(spark, sf_dir, "documents")
    u = ((F.conv(F.substring(
        F.md5(F.concat(F.lit("w:"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("double") + 0.5) / float(1 << 32))
    es_key = F.round(F.log(u) / F.greatest("n_chars", F.lit(1)), 9)
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), "doc_id")
    return (d.select("doc_id", "lang", "source", "n_chars",
                     es_key.alias("es_key"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 20))


# ---------------------------------------------------------------------------
# triangle counting over the similarity graph
# ---------------------------------------------------------------------------

@query("graph_triangle_count", _MINHASH_SIG_SQL
       + capped_pairs_cte_sql(32, out="e") + """,
tri AS (
  SELECT ab.doc_a, ab.doc_b, bc.doc_b AS doc_c
  FROM e ab
  JOIN e bc ON bc.doc_a = ab.doc_b
  JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
)
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*) FROM tri) AS n_triangles
""")
def graph_triangle_count(spark, sf_dir):
    """Triangle count over the LSH document-similarity graph — the local
    clustering diagnostic for dedup clusters (near-dup cliques are
    triangle-dense; bridges are not). Canonical a<b<c orientation makes
    each triangle counted exactly once via two partitioned equi-joins on
    edge endpoints — the standard distributed triangle enumeration; no
    per-node adjacency ever materializes.

    The input graph is the SKEW-CAPPED candidate graph
    (lsh_candidate_pairs_capped, max_bucket=32) BY DEFAULT — on a
    duplicate-heavy PRE-dedup corpus the uncapped triangle population
    itself grows quadratically per clique (SKEW_PROBE.md: exponent 2.14
    uncapped vs 0.78 capped, the r11 standing adjudication), so the
    bounded graph is the only shape that survives the 100 TB pre-dedup
    diagnostic; the uncapped graph remains the opt-in via
    operators/dedup.lsh_candidate_pairs for post-dedup corpora. Oracle
    mirrors the capped construction (capped_pairs_cte_sql)."""
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    # the edge list feeds FOUR consumers (three join aliases + the edge
    # count): materialize it once — lambda-HOF subtrees in the minhash
    # lineage don't canonicalize, so without this the whole
    # shingle->minhash->LSH derivation re-runs per alias (21 exchanges
    # measured).
    e = (lsh_candidate_pairs_capped(minhash_signatures(sh), max_bucket=32)
         .select("doc_a", "doc_b").transform(materialize))
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (ab.join(bc, F.col("bc.doc_a") == F.col("ab.doc_b"))
           .join(ac, (F.col("ac.doc_a") == F.col("ab.doc_a"))
                 & (F.col("ac.doc_b") == F.col("bc.doc_b"))))
    return (e.agg(F.count(F.lit(1)).alias("n_edges"))
            .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles"))))


# ---------------------------------------------------------------------------
# concurrent-interval sweep (open orders over time)
# ---------------------------------------------------------------------------

@query("concurrent_orders_sweep", """
WITH deltas AS (
  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
  UNION ALL
  SELECT CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS day, -1 FROM orders
),
daily AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY day
)
SELECT day, net,
       CAST(SUM(net) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_orders
FROM daily
""")
def concurrent_orders_sweep(spark, sf_dir):
    """Concurrent-interval counting via the EVENT-SWEEP rewrite: each
    order contributes +1 at its start and -1 at its (30-day) end; a
    combinable per-day delta aggregation then ONE running sum over the
    day-level table yields the number of simultaneously-open orders for
    every day. The naive form joins every day against every overlapping
    interval (quadratic); the sweep is O(rows) + a window over DAYS (a
    few thousand rows at any corpus scale) — capacity planning's
    canonical query."""
    o = t(spark, sf_dir, "orders")
    start = o.select(F.to_date("o_orderdate").alias("day"),
                     F.lit(1).alias("delta"))
    end = o.select(
        F.to_date(F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        .alias("day"),
        F.lit(-1).alias("delta"))
    daily = (start.unionAll(end)
             .groupBy("day").agg(F.sum("delta").alias("net")))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return daily.select("day", "net",
                        F.sum("net").over(w).alias("open_orders"))


@query("order_interarrival_stats", """
WITH gaps AS (
  SELECT o_custkey,
         (epoch_us(CAST(o_orderdate AS TIMESTAMP))
           - epoch_us(CAST(LAG(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS TIMESTAMP)))
           // 86400000000 AS gap_days
  FROM orders
)
SELECT o_custkey,
       COUNT(gap_days) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
       ROUND(median(gap_days), 9) AS median_gap_days
FROM gaps
WHERE gap_days IS NOT NULL
GROUP BY o_custkey
""")
def order_interarrival_stats(spark, sf_dir):
    """Inter-arrival-time statistics per customer: LAG over the per-key
    order gives exact integer DAY gaps (order dates are day-granular;
    micros-magnitude medians hit quantile-interpolation float artifacts
    past round-9 — day-scale interpolation is exact at .0/.5), then
    min/max/exact-median per customer — the purchase-cadence feature
    behind churn models and anomaly baselines. One window + one
    combinable agg, both keyed by customer."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("o_orderdate").over(w).cast("timestamp"))
    gaps = (o.select("o_custkey", us.alias("us"), prev_us.alias("prev_us"))
            .select("o_custkey",
                    F.expr("(us - prev_us) div 86400000000")
                    .alias("gap_days")))
    return (gaps.filter(F.col("gap_days").isNotNull())
            .groupBy("o_custkey")
            .agg(F.count("gap_days").alias("n_gaps"),
                 F.min("gap_days").alias("min_gap_days"),
                 F.max("gap_days").alias("max_gap_days"),
                 F.round(F.expr("percentile(gap_days, 0.5)"), 9)
                 .alias("median_gap_days")))


@query("graph_degree_distribution",
       _MINHASH_SIG_SQL + lsh_pairs_cte_sql("e") + """,
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT doc_a AS node FROM e UNION ALL SELECT doc_b FROM e)
  GROUP BY node
)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree
""")
def graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the LSH similarity graph — the first
    diagnostic before any graph algorithm runs at scale: a heavy tail
    here predicts skewed joins in triangle counting / PageRank and tells
    you which vertices need salting or degree caps. Two combinable
    aggregations over the (already bounded) edge list; output is
    histogram-sized."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    e = lsh_candidate_pairs(minhash_signatures(char_shingles(d)))
    nodes = (e.select(F.col("doc_a").alias("node"))
             .unionAll(e.select(F.col("doc_b").alias("node"))))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# CDC APPLY: replay an ordered change feed onto a base table
# ---------------------------------------------------------------------------

_CDC_APPLY_SQL = """
WITH changes AS (
  SELECT o_custkey + CASE WHEN o_orderkey % 11 = 0
                          THEN 3000000 ELSE 0 END AS key,
         o_orderkey AS seq,
         CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice AS new_bal
  FROM orders WHERE o_orderkey < 20000
),
latest AS (
  SELECT key, op, new_bal FROM (
    SELECT key, op, new_bal,
           ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
    FROM changes) WHERE rn = 1
),
kept AS (
  SELECT c.c_custkey AS custkey,
         CASE WHEN l.op = 'U' THEN l.new_bal
              ELSE c.c_acctbal END AS acctbal,
         c.c_mktsegment AS mktsegment,
         CASE WHEN l.key IS NULL THEN 'kept'
              ELSE 'updated' END AS row_origin
  FROM customer c LEFT JOIN latest l ON l.key = c.c_custkey
  WHERE l.op IS NULL OR l.op <> 'D'
),
ins AS (
  SELECT l.key AS custkey, l.new_bal AS acctbal,
         'NEW' AS mktsegment, 'inserted' AS row_origin
  FROM latest l LEFT JOIN customer c ON c.c_custkey = l.key
  WHERE c.c_custkey IS NULL AND l.op <> 'D'
)
SELECT custkey, acctbal, mktsegment, row_origin FROM kept
UNION ALL
SELECT custkey, acctbal, mktsegment, row_origin FROM ins
"""


@query("cdc_apply_changes", _CDC_APPLY_SQL)
def cdc_apply_changes(spark, sf_dir):
    """CDC APPLY — the consumer side of change-data-capture (the inverse
    of snapshot_cdc_diff, and the batch core of every Debezium/lakehouse
    ingestion): replay an ORDERED change feed (op in {U, D}, sequence
    number per change, multiple changes per key) onto a base table. Per
    key the LATEST change wins (one window over the feed); updates
    rewrite the value, deletes drop the row, changes for unknown keys
    become inserts, untouched base rows pass through — each output row
    tagged with its origin. The feed is synthesized deterministically
    from orders (every order = a balance update for its customer, every
    97th a delete, every 11th routed to an out-of-base key so the insert
    path is exercised), so the whole apply is value-checked. Shape: one
    window on the feed key + one outer join against the base — the
    feed's shuffle carries (key, seq, value) triples only; at scale the
    base side stays partitioned by key and AQE handles hot keys."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    changes = (o.filter(F.col("o_orderkey") < 20000)
               .select((F.col("o_custkey")
                        + F.when(F.col("o_orderkey") % 11 == 0,
                                 F.lit(3000000)).otherwise(0)).alias("key"),
                       F.col("o_orderkey").alias("seq"),
                       F.when(F.col("o_orderkey") % 97 == 0, "D")
                       .otherwise("U").alias("op"),
                       F.col("o_totalprice").alias("new_bal")))
    latest = (changes.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("key").orderBy(F.desc("seq"))))
        .filter(F.col("rn") == 1).select("key", "op", "new_bal"))
    j = c.join(latest, c.c_custkey == latest.key, "left")
    kept = (j.filter(F.col("op").isNull() | (F.col("op") != "D"))
            .select(F.col("c_custkey").alias("custkey"),
                    F.when(F.col("op") == "U", F.col("new_bal"))
                    .otherwise(F.col("c_acctbal")).alias("acctbal"),
                    F.col("c_mktsegment").alias("mktsegment"),
                    F.when(F.col("key").isNull(), "kept")
                    .otherwise("updated").alias("row_origin")))
    ins = (latest.join(c, latest.key == c.c_custkey, "left_anti")
           .filter(F.col("op") != "D")
           .select(F.col("key").alias("custkey"),
                   F.col("new_bal").alias("acctbal"),
                   F.lit("NEW").alias("mktsegment"),
                   F.lit("inserted").alias("row_origin")))
    return kept.unionByName(ins)


# ---------------------------------------------------------------------------
# per-user longest activity streak (round 7)
# ---------------------------------------------------------------------------

@query("user_longest_streak", """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
runs AS (
  SELECT user_id, day,
         date_diff('day', DATE '2024-01-01', day)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS streak_start
  FROM runs GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       MIN(CASE WHEN len = (SELECT MAX(s2.len) FROM streaks s2
                            WHERE s2.user_id = streaks.user_id)
                THEN streak_start END) AS longest_start
FROM streaks
GROUP BY user_id
""")
def user_longest_streak(spark, sf_dir):
    """Per-user LONGEST CONSECUTIVE-DAY activity streak — the engagement
    metric behind every habit/retention dashboard — via the classic
    gaps-and-islands trick: day_ordinal minus per-user row_number is
    constant within a consecutive run, so one window + one groupBy finds
    every streak; a second rollup takes the longest (earliest start as
    tiebreak). All dates and counts are integer-exact. Scale: windows
    partition by user over DISTINCT active days (bounded per user), and
    both aggregations are combinable."""
    ev = t(spark, sf_dir, "events")
    days = (ev.select("user_id",
                      F.date_trunc("day", "ts").cast("date").alias("day"))
            .distinct())
    wd = Window.partitionBy("user_id").orderBy("day")
    runs = days.withColumn(
        "grp",
        F.datediff("day", F.lit("2024-01-01").cast("date"))
        - F.row_number().over(wd))
    streaks = (runs.groupBy("user_id", "grp")
               .agg(F.count(F.lit(1)).alias("len"),
                    F.min("day").alias("streak_start")))
    wmax = Window.partitionBy("user_id")
    enriched = streaks.withColumn("max_len", F.max("len").over(wmax))
    return (enriched.groupBy("user_id")
            .agg(F.sum("len").cast("bigint").alias("n_active_days"),
                 F.count(F.lit(1)).alias("n_streaks"),
                 F.max("len").cast("bigint").alias("longest_streak"),
                 F.min(F.when(F.col("len") == F.col("max_len"),
                              F.col("streak_start")))
                 .alias("longest_start")))


# ---------------------------------------------------------------------------
# global clustering coefficient (round 9c)
# ---------------------------------------------------------------------------

@query("graph_clustering_coefficient",
       _MINHASH_SIG_SQL + lsh_pairs_cte_sql("e") + """,
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM e ab
  JOIN e bc ON bc.doc_a = ab.doc_b
  JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
),
und AS (
  SELECT doc_a AS node FROM e UNION ALL SELECT doc_b FROM e
),
deg AS (SELECT node, COUNT(*) AS dg FROM und GROUP BY node),
wed AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(dg) // 2 AS BIGINT) AS n_edges,
         CAST(SUM(dg * (dg - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges = 0 THEN CAST(0 AS DOUBLE)
            ELSE (3 * n_triangles) / CAST(n_wedges AS DOUBLE)
       END AS global_clustering_coeff
FROM wed CROSS JOIN tri
""")
def graph_clustering_coefficient(spark, sf_dir):
    """GLOBAL clustering coefficient (transitivity) of the LSH
    document-similarity graph: 3 * triangles / wedges, where wedges =
    sum over nodes of deg*(deg-1)/2 — the one-number answer to "are
    near-dup neighborhoods cliques or stars?" that complements the raw
    triangle count (near-dup clusters should be transitive; a low
    coefficient on a dedup graph means the candidate generator is
    chaining unrelated documents through hub shingles).

    The edge list is materialized once (lazy localCheckpoint) and feeds
    the triangle enumeration (two partitioned equi-joins, a<b<c
    orientation) and the degree aggregation — without it the whole
    shingle->minhash->LSH lineage re-derives per consumer (the
    graph_label_propagation lesson). All counts integer; the
    coefficient is one IEEE division."""
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    e = (lsh_candidate_pairs(minhash_signatures(sh))
         .select("doc_a", "doc_b")
         .transform(materialize))
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (ab.join(bc, F.col("bc.doc_a") == F.col("ab.doc_b"))
           .join(ac, (F.col("ac.doc_a") == F.col("ab.doc_a"))
                 & (F.col("ac.doc_b") == F.col("bc.doc_b")))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")))
    und = (e.select(F.col("doc_a").alias("node"))
           .unionAll(e.select(F.col("doc_b").alias("node"))))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("dg"))
    wed = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.expr("sum(dg) DIV 2").cast("bigint").alias("n_edges"),
        F.expr("sum(dg * (dg - 1)) DIV 2").cast("bigint")
        .alias("n_wedges"))
    return (wed.crossJoin(tri)
            .select("n_nodes", "n_edges", "n_triangles", "n_wedges",
                    F.when(F.col("n_wedges") == 0, F.lit(0).cast("double"))
                    .otherwise((3 * F.col("n_triangles"))
                               / F.col("n_wedges").cast("double"))
                    .alias("global_clustering_coeff")))
