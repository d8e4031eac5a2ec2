"""Third relational batch: multi-nation volume/market-share analytics
(TPC-H Q7/Q8 shapes), global-share HAVING (Q11 shape), NOT-IN + distinct
counting (Q16 shape), multi-EXISTS self-join (Q21 shape) — adapted to this
corpus's schema (no partsupp table; supplier linkage goes through
lineitem.l_suppkey).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.queries.common import (
    dsum, query, sql_dsum, t)


@query("q7_nation_volume", f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
       {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE ((cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
    OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1'))
GROUP BY cn.n_name, sn.n_name, 3
""")
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Two aliases of the broadcast nation dim; the OR pair predicate filters
    after the dimension joins."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (((F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2"))
            | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
            .filter(pair)
            .groupBy("cust_nation", "supp_nation",
                     F.year("l_shipdate").alias("ship_year"))
            .agg(dsum(rev).alias("volume")))


@query("q8_market_share", f"""
WITH all_sales AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE r.r_name = 'ASIA'
)
SELECT o_year,
       {sql_dsum("CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0.0 END")}
         / {sql_dsum('volume')} AS mkt_share
FROM all_sales
GROUP BY o_year
""")
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's purchase volume
    per year (conditional-sum ratio)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"))
    sn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sales = (li.join(o, li.l_orderkey == o.o_orderkey)
             .join(F.broadcast(c), o.o_custkey == c.c_custkey)
             .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
             .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
             .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
             .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
             .select(F.year("o_orderdate").alias("o_year"),
                     vol.alias("volume"), "supp_nation"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_1",
                        F.col("volume")).otherwise(F.lit(0.0))
    return (sales.groupBy("o_year")
            .agg((dsum(nation_vol) / dsum("volume")).alias("mkt_share")))


@query("q11_important_parts", f"""
WITH part_value AS (
  SELECT l_partkey, {sql_dsum('l_extendedprice')} AS part_total
  FROM lineitem GROUP BY l_partkey
),
global_total AS (
  SELECT {sql_dsum('l_extendedprice')} AS g FROM lineitem
)
SELECT pv.l_partkey, pv.part_total
FROM part_value pv, global_total
WHERE pv.part_total > 0.0008 * global_total.g
""")
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: groups whose share exceeds a fraction of a global
    scalar aggregate (HAVING vs uncorrelated scalar subquery)."""
    li = t(spark, sf_dir, "lineitem")
    pv = (li.groupBy("l_partkey")
          .agg(dsum("l_extendedprice").alias("part_total")))
    g = li.agg(dsum("l_extendedprice").alias("g"))
    return (pv.crossJoin(F.broadcast(g))
            .filter(F.col("part_total") > 0.0008 * F.col("g"))
            .select("l_partkey", "part_total"))


@query("q9_product_profit", f"""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)"
                 " - 0.1 * p.p_retailprice * l.l_quantity")} AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, 2
""")
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: product-line profit by supplier nation and year
    (cost modeled from part retail price — this corpus has no partsupp
    table). All dims broadcast; lineitem⋈orders is the lone shuffle."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.1 * F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").alias("o_year"))
            .agg(dsum(profit).alias("profit")))


@query("q13_order_count_distribution", """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
   AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
""")
def q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13: customer order-count distribution — LEFT OUTER join with
    an extra join-side predicate (zero-order customers kept), then a
    second-level histogram aggregation."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy(c.c_custkey)
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


@query("q16_supplier_counting", """
SELECT p.p_brand, p.p_type,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size >= 20
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 500)
GROUP BY p.p_brand, p.p_type
""")
def q16_supplier_counting(spark, sf_dir):
    """TPC-H Q16 shape: NOT IN subquery exclusion + distinct counting per
    group (expressed via the SQL surface so the NOT-IN null-aware anti-join
    rewrite is the plan under test)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("q16_lineitem")
    t(spark, sf_dir, "part").createOrReplaceTempView("q16_part")
    t(spark, sf_dir, "supplier").createOrReplaceTempView("q16_supplier")
    return spark.sql("""
        SELECT p.p_brand, p.p_type,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM q16_lineitem l
        JOIN q16_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_size >= 20
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
                                  WHERE s_acctbal < 500)
        GROUP BY p.p_brand, p.p_type
    """)


@query("q21_waiting_supplier", """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY s.s_name
""")
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: the only late supplier on multi-supplier finished
    orders — correlated EXISTS + NOT EXISTS over lineitem self-joins,
    via the SQL surface (two predicate-subquery rewrites in one plan)."""
    t(spark, sf_dir, "supplier").createOrReplaceTempView("q21_supplier")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("q21_lineitem")
    t(spark, sf_dir, "orders").createOrReplaceTempView("q21_orders")
    return spark.sql("""
        SELECT s.s_name, COUNT(*) AS numwait
        FROM q21_supplier s
        JOIN q21_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN q21_orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          AND EXISTS (SELECT 1 FROM q21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY s.s_name
    """)


# ---------------------------------------------------------------------------
# SQL interface portability: ONE ANSI SQL string executed verbatim by BOTH
# engines — Spark runs it through spark.sql over temp views, DuckDB runs it
# as the oracle. Demonstrates the engine's SQL front door (not just the
# DataFrame API) and that the inventory's determinism discipline (exact
# decimal sums) is plain ANSI, not dialect trickery.
# ---------------------------------------------------------------------------

_PORTABLE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_price,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 1000
GROUP BY o_orderpriority
"""


@query("sql_portable_agg", _PORTABLE_SQL)
def sql_portable_agg(spark, sf_dir):
    """The SQL front door: registers the driver tables as temp views and
    executes the SAME SQL text the DuckDB oracle runs — byte-identical
    query in, hash-identical result out. Catalyst treats the SQL and
    DataFrame formulations identically (same optimized plan)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_PORTABLE_SQL)


_ZORDER_SQL = """
SELECT o_orderkey,
       o_custkey % 1024 AS dim_x,
       o_orderkey % 1024 AS dim_y,
       ((((o_custkey % 1024) >> 0) & 1) << 0) | ((((o_custkey % 1024) >> 1) & 1) << 2) | ((((o_custkey % 1024) >> 2) & 1) << 4) | ((((o_custkey % 1024) >> 3) & 1) << 6) | ((((o_custkey % 1024) >> 4) & 1) << 8) | ((((o_custkey % 1024) >> 5) & 1) << 10) | ((((o_custkey % 1024) >> 6) & 1) << 12) | ((((o_custkey % 1024) >> 7) & 1) << 14) | ((((o_custkey % 1024) >> 8) & 1) << 16) | ((((o_custkey % 1024) >> 9) & 1) << 18) | ((((o_orderkey % 1024) >> 0) & 1) << 1) | ((((o_orderkey % 1024) >> 1) & 1) << 3) | ((((o_orderkey % 1024) >> 2) & 1) << 5) | ((((o_orderkey % 1024) >> 3) & 1) << 7) | ((((o_orderkey % 1024) >> 4) & 1) << 9) | ((((o_orderkey % 1024) >> 5) & 1) << 11) | ((((o_orderkey % 1024) >> 6) & 1) << 13) | ((((o_orderkey % 1024) >> 7) & 1) << 15) | ((((o_orderkey % 1024) >> 8) & 1) << 17) | ((((o_orderkey % 1024) >> 9) & 1) << 19) AS zkey
FROM orders
"""


@query("zorder_cluster_key", _ZORDER_SQL)
def zorder_cluster_key(spark, sf_dir):
    """Z-order (Morton) clustering key over two bucketed dimensions of
    orders — the multi-column data-skipping layout: sorting by the single
    interleaved key co-locates rows close in BOTH dimensions, so range
    files carry tight min/max stats on each column at once (a
    lexicographic sort only helps the leading column). Pure integer
    shift/and/or, codegen-friendly; a writer range-partitions and sorts
    by the key (tests/test_sources.py pins the skipping on both
    dimensions)."""
    from arangodb_java_parquet_spark.sources.readers import zorder_key
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).alias("dim_x"),
        (F.col("o_orderkey") % 1024).alias("dim_y"),
        zorder_key([F.col("o_custkey") % 1024,
                    F.col("o_orderkey") % 1024], 10).alias("zkey"))


@query("agg_count_distinct_twolevel", """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY o_orderpriority
""")
def agg_count_distinct_twolevel(spark, sf_dir):
    """COUNT(DISTINCT) via explicit two-level aggregation: first collapse
    to the distinct (group, value) pairs (map-side combinable — the big
    win: duplicate values vanish before the shuffle), then count per
    group. Equals the planner's expand-based distinct (the oracle) while
    never holding a per-group hash set; the standard manual rewrite when
    a single hot group's distinct set would blow an executor at scale."""
    o = t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority", "o_custkey").agg(F.lit(1))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_customers")))


# ---------------------------------------------------------------------------
# ordered string aggregation and approximate quantiles
# ---------------------------------------------------------------------------

@query("agg_string_concat_ordered", """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
SELECT o_orderpriority,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rnk)
         AS top_keys_csv
FROM ranked WHERE rnk <= 5
GROUP BY o_orderpriority
""")
def agg_string_concat_ordered(spark, sf_dir):
    """ORDER-sensitive string aggregation (SQL string_agg ... ORDER BY):
    Spark has no ordered string_agg, so the parity form is
    collect_list(struct(sort_key, value)) -> array_sort -> transform ->
    array_join — deterministic because the struct sort key (rank) is
    unique. Input is pre-capped to 5 rows per group by a window, so the
    collected array is bounded at any scale."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey")
    ranked = (o.withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= 5))
    arr = F.array_sort(F.collect_list(
        F.struct(F.col("rnk"), F.col("o_orderkey").cast("string")
                 .alias("k"))))
    return (ranked.groupBy("o_orderpriority")
            .agg(F.array_join(F.transform(arr, lambda s: s["k"]), ",")
                 .alias("top_keys_csv")))


@query("agg_approx_quantile")
def agg_approx_quantile(spark, sf_dir):
    """approx_percentile (t-digest-style mergeable sketch) per priority —
    rows-only by design: the sketch's interpolation is engine-specific.
    tests/test_curation.py asserts every estimate lands within 2% relative
    error of the exact percentile, mirroring the HLL tolerance gate. At
    100 TB this replaces exact percentiles (full sort or two scans) with
    one combinable pass."""
    o = t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.expr("approx_percentile(o_totalprice,"
                        " array(0.5D, 0.9D, 0.99D), 10000)")
                 .alias("approx_pcts"),
                 F.count(F.lit(1)).alias("n")))


@query("agg_max_by_min_by", """
SELECT o_orderpriority,
       arg_max(o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
               + o_orderkey % 10000000) AS top_order,
       arg_min(o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
               + o_orderkey % 10000000) AS bottom_order,
       MAX(o_totalprice) AS max_price,
       MIN(o_totalprice) AS min_price
FROM orders
GROUP BY o_orderpriority
""")
def agg_max_by_min_by(spark, sf_dir):
    """max_by / min_by (SQL arg_max/arg_min) — select the key of the
    extreme row per group in ONE combinable aggregation instead of the
    window-rank-filter plan (no shuffle of ranked rows, no per-group
    sort). Ties on o_totalprice are broken deterministically via the
    orderkey, because both engines pick an ARBITRARY row on exact ties.
    The ordering value is exact-integer: round(price*100) snaps the
    2-decimal price to integer cents (no float half-ulp ambiguity), and
    the cents term is scaled by a modulus STRICTLY larger than the
    orderkey tiebreak term, so the price always dominates — the named
    row is the true extremum, and no two distinct (price, key%1e7)
    pairs can collide on the composite."""
    _ordv = ("CAST(round(o_totalprice * 100) AS BIGINT) * 10000000"
             " + o_orderkey % 10000000")
    o = t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.expr(f"max_by(o_orderkey, {_ordv})").alias("top_order"),
                 F.expr(f"min_by(o_orderkey, {_ordv})").alias("bottom_order"),
                 F.max("o_totalprice").alias("max_price"),
                 F.min("o_totalprice").alias("min_price")))


@query("frequent_item_pairs", """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey, COUNT(*) AS n_orders FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p.part_a, p.part_b, p.n_both,
       da.n_orders AS n_a, db.n_orders AS n_b,
       p.n_both / CAST(da.n_orders AS DOUBLE) AS conf_a_to_b,
       p.n_both / CAST(db.n_orders AS DOUBLE) AS conf_b_to_a
FROM pairs p
JOIN deg da ON da.l_partkey = p.part_a
JOIN deg db ON db.l_partkey = p.part_b
WHERE p.n_both >= 3
""")
def frequent_item_pairs(spark, sf_dir):
    """Frequent co-purchased part pairs with directional confidence
    (market-basket / association-rule mining, the Apriori 2-itemset
    stage). The self-join is keyed on l_orderkey, so its fan-out is
    bounded by basket size squared — tiny per key — never a global cross
    join; part marginals join back vocabulary-sized. At 100 TB the same
    shape holds: shuffle is (order, part) pairs, and a min-support
    pre-filter on part degree can prune the tail before the pair join."""
    li = t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    deg = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_orders"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("part_a"),
                      F.col("b.l_partkey").alias("part_b"))
             .agg(F.count(F.lit(1)).alias("n_both"))
             .filter(F.col("n_both") >= 3))
    da = deg.select(F.col("l_partkey").alias("part_a"),
                    F.col("n_orders").alias("n_a"))
    db = deg.select(F.col("l_partkey").alias("part_b"),
                    F.col("n_orders").alias("n_b"))
    return (pairs.join(da, "part_a").join(db, "part_b")
            .select("part_a", "part_b", "n_both", "n_a", "n_b",
                    (F.col("n_both") / F.col("n_a").cast("double"))
                    .alias("conf_a_to_b"),
                    (F.col("n_both") / F.col("n_b").cast("double"))
                    .alias("conf_b_to_a")))


_RECURSIVE_SQL = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS part, CAST(FLOOR(p_partkey / 10.0) AS BIGINT)
           AS parent, 1 AS depth
  FROM part
  UNION ALL
  SELECT anc.part, CAST(FLOOR(anc.parent / 10.0) AS BIGINT), depth + 1
  FROM anc WHERE anc.parent > 0
)
SELECT part, MAX(depth) AS depth_to_root, MIN(parent) AS root
FROM anc
GROUP BY part
"""


@query("sql_recursive_cte", _RECURSIVE_SQL)
def sql_recursive_cte(spark, sf_dir):
    """RECURSIVE CTE (Spark 4 WITH RECURSIVE) — the SAME ANSI SQL text
    runs verbatim on Spark and DuckDB (sql_portable_agg's strongest
    parity form, now for iteration): walk each part up a synthesized
    decimal-digit hierarchy (parent = part div 10) to the root, reporting
    depth. Spark executes the recursion as an iterative union-loop plan;
    per round the work is one combinable step over the frontier — the
    declarative sibling of the hand-rolled pointer-doubling in
    operators/curation.py (which remains the right tool when rounds must
    be O(log n) instead of O(depth))."""
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_SQL)


@query("scalar_variant_json", """
SELECT event_id,
       json_extract(props, '$.k')::BIGINT AS k_val,
       json_extract(props, '$.missing')::BIGINT AS missing_val
FROM events
""")
def scalar_variant_json(spark, sf_dir):
    """VARIANT semi-structured type (Spark 4): parse_json once into a
    variant, then typed-path extraction with variant_get — the
    shredded-JSON path that replaces per-field string re-parsing (the
    oracle expresses the same extraction with DuckDB's JSON type).
    Missing paths yield NULL, not errors, in both engines."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'long')")
        .alias("k_val"),
        F.expr("variant_get(parse_json(props), '$.missing', 'long')")
        .alias("missing_val"))


_CORR_VARS = [("quantity", "l_quantity"), ("extendedprice", "l_extendedprice"),
              ("discount", "l_discount"), ("tax", "l_tax")]
_CORR_MOMENTS_SQL = ", ".join(
    [f"CAST(SUM(CAST({c} AS DECIMAL(30,8))) AS DOUBLE) AS s_{n}"
     for n, c in _CORR_VARS]
    + [f"CAST(SUM(CAST({c} * {c} AS DECIMAL(30,8))) AS DOUBLE) AS ss_{n}"
       for n, c in _CORR_VARS]
    + [f"CAST(SUM(CAST({ca} * {cb} AS DECIMAL(30,8))) AS DOUBLE)"
       f" AS c_{na}_{nb}"
       for i, (na, ca) in enumerate(_CORR_VARS)
       for nb, cb in _CORR_VARS[i + 1:]])
_CORR_PAIR_SQL = "\nUNION ALL\n".join(
    f"SELECT '{na}' AS var_a, '{nb}' AS var_b,\n"
    f"       ROUND((n * c_{na}_{nb} - s_{na} * s_{nb})\n"
    f"         / (sqrt(n * ss_{na} - s_{na} * s_{na})\n"
    f"            * sqrt(n * ss_{nb} - s_{nb} * s_{nb})), 9) AS corr\n"
    f"FROM m"
    for i, (na, _) in enumerate(_CORR_VARS)
    for nb, _ in _CORR_VARS[i + 1:])


@query("agg_corr_matrix",
       f"WITH m AS (SELECT COUNT(*) AS n, {_CORR_MOMENTS_SQL}"
       f" FROM lineitem)\n{_CORR_PAIR_SQL}")
def agg_corr_matrix(spark, sf_dir):
    """Full pairwise correlation matrix over four lineitem measures in
    ONE pass: a single combinable aggregation collects all exact-decimal
    first/second/cross moments (4+4+6 sums), then the 6 correlations
    derive from the one-row moment table — the standard profile-stage
    shape, corpus scanned once regardless of pair count. Round-9 on the
    cancellation-sensitive derived ratio (repo determinism rule).

    The 15 decimal(30,8) partial sums are the dominant cost and run in
    the SCAN stage, which is one task per row group — spread the four
    needed columns across the cluster first (decimal partial sums are
    exact, so the partitioning cannot change the result; the moved bytes
    are 4 narrow columns, negligible next to the BigDecimal accumulation
    they parallelize; r15: 4.96 s -> 1.5 s)."""
    from arangodb_java_parquet_spark.operators.dedup import spread
    li = spread(t(spark, sf_dir, "lineitem")
                .select(*[c for _, c in _CORR_VARS]))

    def ms(e):
        return F.sum(e.cast("decimal(30,8)")).cast("double")

    aggs = [F.count(F.lit(1)).alias("n")]
    for n, c in _CORR_VARS:
        aggs.append(ms(F.col(c)).alias(f"s_{n}"))
    for n, c in _CORR_VARS:
        aggs.append(ms(F.col(c) * F.col(c)).alias(f"ss_{n}"))
    for i, (na, ca) in enumerate(_CORR_VARS):
        for nb, cb in _CORR_VARS[i + 1:]:
            aggs.append(ms(F.col(ca) * F.col(cb)).alias(f"c_{na}_{nb}"))
    m = li.agg(*aggs)

    def corr(na, nb):
        n = F.col("n")
        sa, sb = F.col(f"s_{na}"), F.col(f"s_{nb}")
        ssa, ssb = F.col(f"ss_{na}"), F.col(f"ss_{nb}")
        c = F.col(f"c_{na}_{nb}")
        return F.round((n * c - sa * sb)
                       / (F.sqrt(n * ssa - sa * sa)
                          * F.sqrt(n * ssb - sb * sb)), 9)

    pairs = F.explode(F.array(*[
        F.struct(F.lit(na).alias("var_a"), F.lit(nb).alias("var_b"),
                 corr(na, nb).alias("corr"))
        for i, (na, _) in enumerate(_CORR_VARS)
        for nb, _ in _CORR_VARS[i + 1:]])).alias("p")
    return m.select(pairs).select("p.var_a", "p.var_b", "p.corr")


@query("agg_linear_regression", """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,8)))
              AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,8)))
              AS DOUBLE) AS sxy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 9)
         AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS r2
FROM m
""")
def agg_linear_regression(spark, sf_dir):
    """Per-group OLS regression (price ~ quantity): slope / intercept /
    R² derived from EXACT decimal moments in one combinable pass — the
    deterministic replacement for the engines' native regr_slope /
    regr_r2, whose float accumulation is partitioning-order-dependent
    and would never hash-match cross-engine. Same moment table as
    agg_corr_matrix; round-9 on the cancellation-sensitive ratios."""
    li = t(spark, sf_dir, "lineitem")

    def ms(e):
        return F.sum(e.cast("decimal(30,8)")).cast("double")

    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = (li.groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).alias("n"), ms(q).alias("sx"),
              ms(q * q).alias("sxx"), ms(p).alias("sy"),
              ms(p * p).alias("syy"), ms(q * p).alias("sxy")))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag", "n",
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / n, 9).alias("intercept"),
        F.round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
        .alias("r2"))


@query("agg_bitmap_distinct", """
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct
FROM orders
GROUP BY o_orderpriority
""")
def agg_bitmap_distinct(spark, sf_dir):
    """Spark 4 bitmap aggregates as an EXACT distinct-count engine:
    bitmap_construct_agg over bitmap_bit_position builds a per-group
    roaring-style bitmap and bitmap_count reads its cardinality — the
    mergeable exact alternative to two-level COUNT DISTINCT (bitmaps
    union across partitions/days like HLL sketches but without error).
    The bitmap bytes are engine-private; the COUNT they encode is not —
    so the entry is fully value-checked against plain COUNT(DISTINCT).
    Keys are offset +1: bitmap_bit_position(v) maps v=0 to position -1,
    which the bitmap silently drops (found by the oracle's off-by-one)."""
    o = t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.expr("bitmap_count(bitmap_construct_agg("
                        "bitmap_bit_position(o_custkey + 1)))")
                 .alias("n_distinct")))


@query("rollup_share_of_parent", """
WITH leaf AS (
  SELECT o_orderpriority, o_orderstatus,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, o_orderstatus, n, rev,
       ROUND(rev / CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (
         PARTITION BY o_orderpriority) AS DOUBLE), 9) AS share_of_priority,
       ROUND(rev / CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER ()
         AS DOUBLE), 9) AS share_of_total
FROM leaf
""")
def rollup_share_of_parent(spark, sf_dir):
    """Share-of-parent report math: leaf aggregates divided by their
    parent-level and grand totals, computed as exact-decimal window sums
    OVER THE LEAF TABLE (|priorities|×|statuses| rows) — never a second
    scan of the fact table and never a join back; the standard
    percent-of-parent drill-down measure."""
    o = t(spark, sf_dir, "orders")
    leaf = (o.groupBy("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                 .cast("double").alias("rev")))
    w_p = Window.partitionBy("o_orderpriority")
    w_all = Window.partitionBy()
    dec = F.col("rev").cast("decimal(30,8)")
    return leaf.select(
        "o_orderpriority", "o_orderstatus", "n", "rev",
        F.round(F.col("rev") / F.sum(dec).over(w_p).cast("double"), 9)
        .alias("share_of_priority"),
        F.round(F.col("rev") / F.sum(dec).over(w_all).cast("double"), 9)
        .alias("share_of_total"))


@query("monthly_mix_shift", """
WITH monthly AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         l_returnflag,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
shares AS (
  SELECT month, l_returnflag, n,
         ROUND(n / CAST(SUM(n) OVER (PARTITION BY month) AS DOUBLE), 9)
           AS share
  FROM monthly
)
SELECT month, l_returnflag, n, share,
       ROUND(share - LAG(share) OVER (PARTITION BY l_returnflag
                                      ORDER BY month), 9) AS share_delta
FROM shares
""")
def monthly_mix_shift(spark, sf_dir):
    """Categorical MIX-SHIFT monitor: each flag's share of monthly volume
    and its month-over-month delta — the drift detector for composition
    changes that totals hide (counts can be flat while the mix rotates).
    Windows run over the month×flag aggregate (report-sized); integer
    counts make the shares engine-exact before one round-9."""
    li = t(spark, sf_dir, "lineitem")
    monthly = (li.groupBy(
        F.to_date(F.date_trunc("month", F.col("l_shipdate")))
        .alias("month"), "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n")))
    w_m = Window.partitionBy("month")
    shares = monthly.withColumn(
        "share",
        F.round(F.col("n") / F.sum("n").over(w_m).cast("double"), 9))
    w_lag = Window.partitionBy("l_returnflag").orderBy("month")
    return shares.withColumn(
        "share_delta",
        F.round(F.col("share") - F.lag("share").over(w_lag), 9))


@query("monthly_seasonal_index", """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
tr3 AS (
  SELECT month, rev,
         CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (
           ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS rev3,
         COUNT(*) OVER (ORDER BY month
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3
  FROM monthly
)
SELECT month, rev,
       rev3 / n3 AS trailing_avg,
       rev / (rev3 / n3) AS seasonal_index
FROM tr3
""")
def monthly_seasonal_index(spark, sf_dir):
    """Seasonal index: each month's revenue relative to its trailing
    3-month average (index > 1 = above recent trend) — the
    deseasonalization primitive behind demand planning. Exact-decimal
    window sums over the month-level aggregate; report-sized window
    input."""
    o = t(spark, sf_dir, "orders")
    monthly = (o.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate")))
        .alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
             .cast("double").alias("rev")))
    w3 = Window.orderBy("month").rowsBetween(-2, Window.currentRow)
    trailing = (monthly
                .withColumn("rev3",
                            F.sum(F.col("rev").cast("decimal(30,8)"))
                            .over(w3).cast("double"))
                .withColumn("n3", F.count(F.lit(1)).over(w3)))
    avg3 = F.col("rev3") / F.col("n3")
    # no rounds: at ~1e7 magnitude round(x, 9) exceeds double precision
    # and the engines' nearest-representable results diverge; plain
    # division of bit-identical inputs is itself bit-identical
    return trailing.select(
        "month", "rev",
        avg3.alias("trailing_avg"),
        (F.col("rev") / avg3).alias("seasonal_index"))


@query("basket_size_histogram", """
WITH sizes AS (
  SELECT l_orderkey, COUNT(*) AS basket_size
  FROM lineitem GROUP BY l_orderkey
)
SELECT basket_size, COUNT(*) AS n_orders,
       CAST(basket_size * COUNT(*) AS BIGINT) AS n_lines
FROM sizes GROUP BY basket_size
""")
def basket_size_histogram(spark, sf_dir):
    """Basket-size distribution (lines per order) — the fan-out profile
    that sizes every order-keyed join and the market-basket self-join's
    quadratic term; two combinable aggregations, histogram-sized
    output."""
    li = t(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size"))
    return (sizes.groupBy("basket_size")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 (F.col("basket_size") * F.count(F.lit(1))).cast("bigint")
                 .alias("n_lines")))


@query("supplier_nation_coverage", """
SELECT s.s_suppkey, s.s_name,
       COUNT(DISTINCT c.c_nationkey) AS n_cust_nations,
       COUNT(DISTINCT o.o_custkey) AS n_customers,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY s.s_suppkey, s.s_name
""")
def supplier_nation_coverage(spark, sf_dir):
    """Supplier REACH: how many distinct customer nations and customers
    each supplier ultimately serves — a three-hop star traversal
    (lineitem -> orders -> customer) with multi-distinct aggregation.
    Supplier and customer dims broadcast; lineitem⋈orders is the one
    real shuffle; Spark plans the two COUNT DISTINCTs with an expand,
    still combinable per distinct key."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("s_suppkey", "s_name")
            .agg(F.countDistinct("c_nationkey").alias("n_cust_nations"),
                 F.countDistinct("o_custkey").alias("n_customers"),
                 F.count(F.lit(1)).alias("n_lines")))


@query("exact_mode_per_group", """
WITH counts AS (
  SELECT l_returnflag, l_quantity, COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                               ORDER BY n DESC, l_quantity) AS rn
  FROM counts
)
SELECT l_returnflag, l_quantity AS mode_quantity, n AS mode_count
FROM ranked WHERE rn = 1
""")
def exact_mode_per_group(spark, sf_dir):
    """Deterministic MODE per group: both engines' native mode() picks an
    ARBITRARY value on ties, so the portable form is count-then-rank with
    an explicit (count DESC, value) order — ties break to the smallest
    value, reproducibly. Two combinable steps; the window runs over the
    (group, value) count table, not the rows."""
    li = t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("n"), "l_quantity")
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("l_returnflag",
                    F.col("l_quantity").alias("mode_quantity"),
                    F.col("n").alias("mode_count")))


# ---------------------------------------------------------------------------
# exact skewness / kurtosis from power sums (round 7)
# ---------------------------------------------------------------------------

@query("agg_skewness_kurtosis", """
WITH s AS (
  SELECT o_orderpriority,
         o_totalprice / 100000e0 AS y
  FROM orders
),
sums AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(30,9))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(30,9))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(ROUND(y * y * y, 9) AS DECIMAL(30,9))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(ROUND(y * y * y * y, 9) AS DECIMAL(30,9))) AS DOUBLE)
           AS s4
  FROM s GROUP BY o_orderpriority
),
m AS (
  SELECT o_orderpriority, n,
         s1 / n AS mean,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3e0 * (s1 / n) * (s2 / n)
           + 2e0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4e0 * (s1 / n) * (s3 / n)
           + 6e0 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3e0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM sums
)
SELECT o_orderpriority, n, mean,
       m3 / (m2 * sqrt(m2)) AS skewness,
       m4 / (m2 * m2) - 3e0 AS excess_kurtosis
FROM m
""")
def agg_skewness_kurtosis(spark, sf_dir):
    """Population skewness and excess kurtosis per order priority from
    one-pass power sums (S1..S4) — the 3rd/4th-moment distribution-shape
    profile (heavy tails / asymmetry) completing the var/stddev/corr
    moment family; all four sums are map-side combinable.

    Determinism: the variable is pre-scaled by 1e5 (skewness/kurtosis are
    scale-invariant) so y^4 stays O(1) and the round-9-then-exact-decimal
    sum applies (round-9 is unusable above ~1e7 magnitude — the
    monthly_seasonal_index lesson). All derived moments are arithmetic on
    bit-identical doubles in IDENTICAL expression order on both engines,
    and m2^1.5 is written m2*sqrt(m2) (sqrt is IEEE-exact; pow is not)."""
    o = t(spark, sf_dir, "orders")
    y = F.col("o_totalprice") / F.lit(100000.0)
    s = o.select("o_orderpriority", y.alias("y"))

    def rdsum(expr):
        return (F.sum(F.round(expr, 9).cast("decimal(30,9)"))
                .cast("double"))

    yy = F.col("y")
    sums = s.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        rdsum(yy).alias("s1"),
        rdsum(yy * yy).alias("s2"),
        rdsum(yy * yy * yy).alias("s3"),
        rdsum(yy * yy * yy * yy).alias("s4"))
    mean = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean * mean
    m3 = (F.col("s3") / F.col("n")
          - F.lit(3.0) * mean * (F.col("s2") / F.col("n"))
          + F.lit(2.0) * mean * mean * mean)
    m4 = (F.col("s4") / F.col("n")
          - F.lit(4.0) * mean * (F.col("s3") / F.col("n"))
          + F.lit(6.0) * mean * mean * (F.col("s2") / F.col("n"))
          - F.lit(3.0) * mean * mean * mean * mean)
    m = sums.select("o_orderpriority", "n", mean.alias("mean"),
                    m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    return m.select(
        "o_orderpriority", "n", "mean",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2"))))
        .alias("skewness"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0))
        .alias("excess_kurtosis"))


# ---------------------------------------------------------------------------
# market-basket association rules at the brand level (round 12)
# ---------------------------------------------------------------------------

_MBR_MIN_BOTH = 5  # minimum co-occurrence count for an emitted rule


@query("market_basket_rules", f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob),
cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY b),
pairs AS (
  SELECT a.b AS brand_a, c2.b AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ob a JOIN ob c2 ON c2.ok = a.ok AND a.b < c2.b
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_both,
       ca.c AS n_a, cb.c AS n_b,
       n_both / CAST(n_orders AS DOUBLE) AS support,
       n_both / CAST(ca.c AS DOUBLE) AS confidence,
       (n_both * n_orders) / (ca.c * CAST(cb.c AS DOUBLE)) AS lift
FROM pairs
JOIN cnt ca ON ca.b = brand_a
JOIN cnt cb ON cb.b = brand_b
CROSS JOIN n
WHERE n_both >= {_MBR_MIN_BOTH}
""")
def market_basket_rules(spark, sf_dir):
    """MARKET-BASKET ASSOCIATION RULES (Agrawal & Srikant 1994, the
    Apriori level-2 itemsets) at the brand level: per brand pair,
    support = P(A,B), confidence = P(B|A), and lift =
    P(A,B)/(P(A)P(B)) over the order-as-basket relation — the
    co-occurrence analytics every commerce/recommendation pipeline runs,
    and (swapping brands for n-gram features) the co-occurrence shape
    behind feature-correlation audits on training data. Brand-level
    baskets make the pair space dense and BOUNDED (|brands|^2 / 2
    candidates max), the standard coarsening that keeps level-2 Apriori
    a hash join instead of an explosion; the within-basket self-join
    fans out per order by (distinct brands per order choose 2), bounded
    by basket width, never all-pairs across orders. All three metrics
    are plain integer-ratio divisions — exact counts until one IEEE
    division each (the lift numerator n_both*n_orders stays integer).
    The {_MBR_MIN_BOTH}-co-occurrence floor is the standard min-support
    prune, applied AFTER counting so emitted values are exact."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (li.join(F.broadcast(p),
                  li["l_partkey"] == p["p_partkey"])
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("p_brand").alias("b"))
          .distinct()
          .transform(materialize))  # pair join sides + counts
    n = ob.agg(F.countDistinct("ok").cast("bigint").alias("n_orders"))
    cnt = ob.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = ob.select(F.col("ok"), F.col("b").alias("brand_a"))
    c2 = ob.select(F.col("ok"), F.col("b").alias("brand_b"))
    pairs = (a.join(c2, "ok")
             .filter(F.col("brand_a") < F.col("brand_b"))
             .groupBy("brand_a", "brand_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
             .filter(F.col("n_both") >= _MBR_MIN_BOTH))
    ca = cnt.select(F.col("b").alias("brand_a"), F.col("c").alias("n_a"))
    cb = cnt.select(F.col("b").alias("brand_b"), F.col("c").alias("n_b"))
    return (pairs.join(F.broadcast(ca), "brand_a")
            .join(F.broadcast(cb), "brand_b")
            .crossJoin(F.broadcast(n))
            .select("brand_a", "brand_b", "n_both", "n_a", "n_b",
                    (F.col("n_both") / F.col("n_orders").cast("double"))
                    .alias("support"),
                    (F.col("n_both") / F.col("n_a").cast("double"))
                    .alias("confidence"),
                    ((F.col("n_both") * F.col("n_orders"))
                     / (F.col("n_a") * F.col("n_b").cast("double")))
                    .alias("lift")))
