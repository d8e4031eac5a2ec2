"""Time-series / trend analytics over the orders and events tables:
change-point detection, robust trend estimation, rolling co-movement, and
strictly-contiguous event patterns — the monitoring layer a data pipeline
runs over its own daily rollups.

Determinism: every series value is an exact decimal daily sum first; the
statistics on top are left-to-right double arithmetic with round-9 on
cancellation-sensitive outputs, per the repo's cross-engine rules.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.dedup import symmetric_edges
from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.queries.common import (
    dsum, query, sql_dsum, t)

# ---------------------------------------------------------------------------
# CUSUM change-point detection on daily revenue
# ---------------------------------------------------------------------------

_CUSUM_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {sql_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
),
stats AS (
  SELECT CAST(SUM(CAST(rev AS DECIMAL(30,8))) AS DOUBLE) AS total,
         COUNT(*) AS n
  FROM daily
),
cusum AS (
  SELECT day, rev,
         SUM(CAST(ROUND(rev - total / n, 6) AS DECIMAL(30,6)))
               OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s
  FROM daily CROSS JOIN stats
),
peak AS (
  SELECT day, s, abs(s) AS mag,
         ROW_NUMBER() OVER (ORDER BY abs(s) DESC, day ASC) AS rn
  FROM cusum
)
SELECT p.day AS change_day, p.s AS cusum_at_peak, p.mag AS magnitude,
       ROUND((SELECT CAST(SUM(CAST(rev AS DECIMAL(30,8))) AS DOUBLE)
              FROM daily WHERE day <= p.day)
             / (SELECT COUNT(*) FROM daily WHERE day <= p.day), 9)
         AS mean_before,
       ROUND((SELECT CAST(SUM(CAST(rev AS DECIMAL(30,8))) AS DOUBLE)
              FROM daily WHERE day > p.day)
             / (SELECT COUNT(*) FROM daily WHERE day > p.day), 9)
         AS mean_after
FROM peak p WHERE p.rn = 1
"""


@query("cusum_change_point", _CUSUM_SQL)
def cusum_change_point(spark, sf_dir):
    """CUSUM change-point detection on the daily-revenue series: the
    cumulative sum of mean-deviations peaks (in absolute value) at the
    most likely level-shift day — the standard one-pass screen before
    alerting or segmented modeling, here with pre/post means for
    context. Relational shape: one daily decimal rollup, one broadcast
    scalar mean, one running-sum window, one deterministic argmax (day
    tiebreak). The days table is report-sized, so the window's single
    partition is fine at any corpus scale — the heavy lifting (daily
    rollup) is map-side combinable."""
    o = t(spark, sf_dir, "orders")
    # the daily rollup feeds FOUR consumers (stats, the cusum window,
    # the before/after means): materialize it once instead of scanning
    # orders per consumer (16 exchanges measured without it).
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev"))
             .transform(materialize))
    stats = daily.agg(
        F.sum(F.col("rev").cast("decimal(30,8)")).cast("double")
        .alias("total"),
        F.count(F.lit(1)).alias("n"))
    # deviations round to 6 digits, not 9: daily revenue is ~1e6-1e7, and
    # round(x, 9) above ~1e7 magnitude exceeds double's 16 significant
    # digits (engines' nearest-representable diverge — the
    # monthly_seasonal_index lesson); 7+6 digits is safely representable.
    # The decimal running sum is then exact, no outer round needed.
    dev = F.round(F.col("rev") - F.col("total") / F.col("n"), 6)
    cusum = (daily.crossJoin(F.broadcast(stats))
             .withColumn("s", F.sum(dev.cast("decimal(30,6)")).over(
                 W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))))
    peak = (cusum.withColumn(
                "rn", F.row_number().over(
                    W.orderBy(F.desc(F.abs(F.col("s"))), F.asc("day"))))
            .filter(F.col("rn") == 1)
            .select(F.col("day").alias("change_day"),
                    F.col("s").alias("cusum_at_peak"),
                    F.abs(F.col("s")).alias("magnitude"))
            .transform(materialize))  # 1 row, 3 consumers
    before = (daily.join(F.broadcast(peak.select("change_day")),
                         daily.day <= F.col("change_day"))
              .agg(F.round(
                  F.sum(F.col("rev").cast("decimal(30,8)")).cast("double")
                  / F.count(F.lit(1)), 9).alias("mean_before")))
    after = (daily.join(F.broadcast(peak.select("change_day")),
                        daily.day > F.col("change_day"))
             .agg(F.round(
                 F.sum(F.col("rev").cast("decimal(30,8)")).cast("double")
                 / F.count(F.lit(1)), 9).alias("mean_after")))
    return peak.crossJoin(before).crossJoin(after)


# ---------------------------------------------------------------------------
# strictly-contiguous event pattern (MATCH_RECOGNIZE-style)
# ---------------------------------------------------------------------------

_PATTERN_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE user_id < 200
),
seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e1,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2
  FROM ev
)
SELECT user_id, COUNT(*) AS n_strict_funnels
FROM seq
WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
GROUP BY user_id
"""


@query("event_pattern_contiguous", _PATTERN_SQL)
def event_pattern_contiguous(spark, sf_dir):
    """MATCH_RECOGNIZE-style STRICT pattern: view->click->purchase with
    no intervening event (lead(1)/lead(2) over the per-user timeline) —
    stricter than funnel_conversion's first-touch ordering and the
    building block for contiguity patterns generally (one more lead per
    pattern element). One window over (user, ts, event_id-tiebreak),
    one combinable count; at scale the partition key is the user —
    bounded per-user history, no mega-partitions."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"))
    return (seq.filter((F.col("event_type") == "view")
                       & (F.col("e1") == "click")
                       & (F.col("e2") == "purchase"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_strict_funnels")))


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------

_THEIL_SQL = f"""
WITH daily AS (
  SELECT CAST(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000 AS BIGINT)
           AS dnum,
         {sql_dsum('o_totalprice')} AS rev
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
  GROUP BY 1
),
slopes AS (
  SELECT ROUND((b.rev - a.rev) / CAST(b.dnum - a.dnum AS DOUBLE), 9)
           AS slope
  FROM daily a JOIN daily b ON b.dnum > a.dnum
)
SELECT COUNT(*) AS n_pairs,
       ROUND(quantile_cont(slope, 0.5), 9) AS theil_sen_slope,
       ROUND(MIN(slope), 9) AS min_slope,
       ROUND(MAX(slope), 9) AS max_slope
FROM slopes
"""


@query("theil_sen_trend", _THEIL_SQL)
def theil_sen_trend(spark, sf_dir):
    """Theil-Sen robust trend of daily revenue: the MEDIAN of all
    pairwise slopes — up to ~29% outlier days cannot move it, unlike the
    OLS slope (agg_linear_regression). The pairwise self-join is over
    the DAILY table bounded to one year (n(n-1)/2 pairs of ≤365 days —
    the full multi-year span would be millions of pairs), never raw
    orders — the classic pattern of 'reduce first, then the O(n²)
    statistic is cheap'. Slopes round-9 before the median; exact decimal
    daily sums underneath. The daily rollup is materialized once: the
    self-join's two sides otherwise plan two independent scans+aggs of
    orders (hash exchange on one side, broadcast on the other — no
    ReusedExchange), doubling the heavy part of the query (r15)."""
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") >= F.lit("1998-01-01"))
    daily = (o.groupBy(
                F.expr("CAST(unix_millis(CAST(CAST(o_orderdate AS DATE)"
                       " AS TIMESTAMP)) div 86400000 AS BIGINT)")
                .alias("dnum"))
             .agg(dsum("o_totalprice").alias("rev"))
             .transform(materialize))
    a = daily.select(F.col("dnum").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("dnum").alias("db"), F.col("rev").alias("rb"))
    slopes = (a.join(b, F.col("db") > F.col("da"))
              .select(F.round(
                  (F.col("rb") - F.col("ra"))
                  / (F.col("db") - F.col("da")).cast("double"), 9)
                  .alias("slope")))
    # r15: percentile() builds an O(distinct) boxed OpenHashMap buffer
    # and sorts it single-threaded in the final agg — 1.9 s of the
    # entry's 3.9 s on ~856k distinct slopes. The exact percentile is
    # instead derived from ONE ranked pass (row_number + full count),
    # picking the two middle order statistics and applying percentile()'s
    # own interpolation formula (higher-pos)*lower + (pos-lower)*higher
    # — bit-identical output, HashAggregate instead of
    # ObjectHashAggregate. min/max ride the same ranked pass (rn == 1 /
    # rn == n). The unpartitioned sort window is over DAILY-pair slopes
    # (n_days^2/2 rows), bounded by the one-year day count, not corpus
    # size.
    ranked = slopes.select(
        "slope",
        F.row_number().over(W.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"))
    pos = (F.col("n") - 1) * 0.5
    lower = F.floor(pos)
    higher = F.ceil(pos)
    picked = ranked.filter(
        ((F.col("rn") - 1 == lower) | (F.col("rn") - 1 == higher)
         | (F.col("rn") == 1) | (F.col("rn") == F.col("n"))))
    agg = picked.agg(
        F.max("n").alias("n_pairs"),
        F.max(F.when(F.col("rn") - 1 == lower, F.col("slope"))).alias("lk"),
        F.max(F.when(F.col("rn") - 1 == higher, F.col("slope"))).alias("hk"),
        F.max(F.when(F.col("rn") == 1, F.col("slope"))).alias("mn"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("slope"))).alias("mx"))
    apos = (F.col("n_pairs") - 1) * 0.5
    alower = F.floor(apos)
    ahigher = F.ceil(apos)
    median = F.when(alower == ahigher, F.col("lk")).otherwise(
        (ahigher.cast("double") - apos) * F.col("lk")
        + (apos - alower.cast("double")) * F.col("hk"))
    return agg.select(
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("bigint"))
        .alias("n_pairs"),
        F.round(median, 9).alias("theil_sen_slope"),
        F.round(F.col("mn"), 9).alias("min_slope"),
        F.round(F.col("mx"), 9).alias("max_slope"))


# ---------------------------------------------------------------------------
# rolling correlation of two daily series
# ---------------------------------------------------------------------------

_ROLLCORR_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {sql_dsum('o_totalprice')} AS rev,
         CAST(COUNT(*) AS DOUBLE) AS n_orders
  FROM orders GROUP BY 1
),
win AS (
  SELECT day,
         COUNT(*) OVER w AS n,
         CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(n_orders AS DECIMAL(30,8))) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(rev * rev, 6) AS DECIMAL(38,6))) OVER w
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(n_orders * n_orders, 6) AS DECIMAL(38,6)))
              OVER w AS DOUBLE) AS syy,
         CAST(SUM(CAST(ROUND(rev * n_orders, 6) AS DECIMAL(38,6))) OVER w
              AS DOUBLE) AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, n,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
         AS roll_corr_7d
FROM win
WHERE n = 7 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
"""


@query("rolling_corr_revenue_orders", _ROLLCORR_SQL)
def rolling_corr_revenue_orders(spark, sf_dir):
    """Trailing-7-day Pearson correlation between daily revenue and
    daily order count — the co-movement monitor for 'is revenue just
    volume?'. Moment sums (Σx, Σy, Σx², Σy², Σxy) accumulate as exact
    decimals inside ROWS frames (the products round-6 BEFORE the decimal
    cast per the half-ulp rule), then one left-to-right correlation
    formula round-9ed — the cancellation-sensitive path the repo's
    determinism rules exist for. Daily table is report-sized; the single
    unpartitioned window is fine because the heavy rollup underneath is
    map-side combinable."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev"),
                  F.count(F.lit(1)).cast("double").alias("n_orders")))
    w = W.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("rev").cast("decimal(30,8)")).over(w).cast("double")
        .alias("sx"),
        F.sum(F.col("n_orders").cast("decimal(30,8)")).over(w)
        .cast("double").alias("sy"),
        F.sum(F.round(F.col("rev") * F.col("rev"), 6)
              .cast("decimal(38,6)")).over(w).cast("double").alias("sxx"),
        F.sum(F.round(F.col("n_orders") * F.col("n_orders"), 6)
              .cast("decimal(38,6)")).over(w).cast("double").alias("syy"),
        F.sum(F.round(F.col("rev") * F.col("n_orders"), 6)
              .cast("decimal(38,6)")).over(w).cast("double").alias("sxy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (win.filter((F.col("n") == 7) & (vx > 0) & (vy > 0))
            .select("day", "n",
                    F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 9)
                    .alias("roll_corr_7d")))


# ---------------------------------------------------------------------------
# weighted percentile (frequency-weighted exact interpolation)
# ---------------------------------------------------------------------------

_WPCT_SQL = """
WITH expanded AS (
  SELECT l_returnflag, l_extendedprice
  FROM (SELECT l_returnflag, l_extendedprice,
               UNNEST(range(0, CAST(l_quantity AS INT))) AS rep
        FROM lineitem)
)
SELECT l_returnflag,
       CAST(SUM(1) AS BIGINT) AS total_weight,
       ROUND(quantile_cont(l_extendedprice, 0.5), 9) AS w_median,
       ROUND(quantile_cont(l_extendedprice, 0.9), 9) AS w_p90
FROM expanded GROUP BY l_returnflag
"""


@query("agg_weighted_percentile", _WPCT_SQL)
def agg_weighted_percentile(spark, sf_dir):
    """Frequency-WEIGHTED percentiles (each row counts l_quantity times)
    via Spark's three-argument percentile(col, p, frequency) — the
    engine-native form of 'unit-level median from line-level rows'. The
    oracle expands rows by weight and takes the plain continuous
    quantile, which is the definition; Spark never materializes the
    expansion (the aggregate walks (value, weight) pairs), which is the
    100 TB point — a quantity-weighted median without a quantity-fold
    blowup."""
    li = t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.sum(F.col("l_quantity").cast("int")).cast("bigint")
                 .alias("total_weight"),
                 F.round(F.expr(
                     "percentile(l_extendedprice, 0.5D,"
                     " CAST(l_quantity AS INT))"), 9).alias("w_median"),
                 F.round(F.expr(
                     "percentile(l_extendedprice, 0.9D,"
                     " CAST(l_quantity AS INT))"), 9).alias("w_p90")))


# ---------------------------------------------------------------------------
# last-touch attribution
# ---------------------------------------------------------------------------

_ATTR_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events WHERE user_id < 300
),
tagged AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS attributed_type
  FROM ev
)
SELECT COALESCE(attributed_type, 'none') AS attributed_type,
       COUNT(*) AS n_purchases
FROM tagged WHERE event_type = 'purchase'
GROUP BY 1
"""


@query("attribution_last_touch", _ATTR_SQL)
def attribution_last_touch(spark, sf_dir):
    """LAST-TOUCH attribution: each purchase credits the user's most
    recent PRIOR non-purchase event (marketing-analytics staple). One
    window per user timeline — last_value(... IGNORE NULLS) over an
    UNBOUNDED-to-1-PRECEDING frame carries the latest qualifying touch
    forward without any self-join or per-purchase correlated lookup; the
    (ts, event_id) tiebreak keeps simultaneous events deterministic.
    Purchases with no prior touch attribute to 'none'."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True).over(w)
    tagged = e.select("user_id", "event_type",
                      touch.alias("attributed_type"))
    return (tagged.filter(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("attributed_type", F.lit("none"))
                     .alias("attributed_type"))
            .agg(F.count(F.lit(1)).alias("n_purchases")))


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (the distributed bootstrap)
# ---------------------------------------------------------------------------

import math as _math

_BOOT_B = 64
# cumulative Poisson(1) thresholds P(X <= k), full-precision reprs shared
# by both engines' CASE ladders
_POIS_CUM = []
_acc = 0.0
for _k in range(6):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _POIS_CUM.append(repr(_acc))


def _pois_case(u_expr: str) -> str:
    """u in [0,1) -> Poisson(1) variate via the inverse-CDF ladder."""
    whens = " ".join(
        f"WHEN {u_expr} < {thr}e0 THEN {k}"
        for k, thr in enumerate(_POIS_CUM))
    return f"CASE {whens} ELSE 6 END"


def _bootstrap_sql() -> str:
    u = ("(CAST('0x' || substring(md5(CAST(b AS VARCHAR) || ':' || "
         "CAST(day AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0e0)")
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {sql_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
),
weighted AS (
  SELECT b.b, {_pois_case(u)} AS w, daily.rev
  FROM daily CROSS JOIN (SELECT UNNEST(range(0, {_BOOT_B})) AS b) b
),
means AS (
  SELECT b,
         ROUND(CAST(SUM(CAST(ROUND(w * rev, 6) AS DECIMAL(38,6)))
                    AS DOUBLE)
               / CAST(SUM(w) AS DOUBLE), 6) AS m
  FROM weighted GROUP BY b HAVING SUM(w) > 0
)
SELECT COUNT(*) AS n_resamples,
       ROUND(quantile_cont(m, 0.025), 6) AS ci_low,
       ROUND(quantile_cont(m, 0.5), 6) AS ci_mid,
       ROUND(quantile_cont(m, 0.975), 6) AS ci_high
FROM means
"""


@query("bootstrap_poisson_ci", _bootstrap_sql())
def bootstrap_poisson_ci(spark, sf_dir):
    """POISSON bootstrap — the bootstrap that actually distributes: each
    (row, resample) pair draws an independent Poisson(1) weight (the
    large-n limit of multinomial resampling), so no resample ever needs
    a global shuffle or a row-count handshake; here B=64 resample means
    of daily revenue and their 95% percentile interval. Every 'random'
    weight is an md5-derived exact uniform (32 bits / 2^32 — exactly
    representable, division exact) through a shared inverse-CDF ladder,
    so the whole stochastic procedure is bit-reproducible and
    value-checked cross-engine. One fan-out of B per DAILY row (report-
    sized), combinable sums; means round-6 (1e6 magnitude + 6 fractional
    digits stays inside double's 16 significant digits)."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev")))
    u = ("(CAST(conv(substring(md5(concat(CAST(b AS STRING), ':', "
         "CAST(day AS STRING))), 1, 8), 16, 10) AS BIGINT)"
         " / 4294967296.0e0)")
    bs = daily.select(
        "day", "rev",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"))
    weighted = bs.select("b", "rev", F.expr(_pois_case(u)).alias("w"))
    means = (weighted.groupBy("b")
             .agg(F.round(
                     F.sum(F.round(F.col("w") * F.col("rev"), 6)
                           .cast("decimal(38,6)")).cast("double")
                     / F.sum("w").cast("double"), 6).alias("m"),
                  F.sum("w").alias("tw"))
             .filter(F.col("tw") > 0))
    return means.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.expr("percentile(m, 0.025D)"), 6).alias("ci_low"),
        F.round(F.expr("percentile(m, 0.5D)"), 6).alias("ci_mid"),
        F.round(F.expr("percentile(m, 0.975D)"), 6).alias("ci_high"))


# ---------------------------------------------------------------------------
# skyline (Pareto-optimal set)
# ---------------------------------------------------------------------------

_SKYLINE_SQL = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
     OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size)
)
"""


@query("skyline_pareto_parts", _SKYLINE_SQL)
def skyline_pareto_parts(spark, sf_dir):
    """SKYLINE / Pareto front (min price, max size) — the
    multi-criteria-optimality operator (cf. 'Integration of Skyline
    Queries into Spark SQL', EDBT 2023, PAPERS.md). The naive definition
    is an O(n²) dominance anti-join; the 2-D case collapses to a SWEEP:
    collapse to per-price-level max size, run ONE running-max window
    over the strictly-cheaper levels, and keep rows that top their own
    level AND exceed every cheaper level's best. The oracle deliberately
    uses the naive NOT EXISTS formulation, so the sweep's dominance/tie
    semantics (equal (price, size) pairs co-survive; same-price larger
    size dominates) are cross-checked against the definition itself, not
    a mirrored implementation. Scale: one combinable groupBy + a window
    over price LEVELS (already reduced), then a broadcast-join back."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size")
    lvl = (p.groupBy("p_retailprice")
           .agg(F.max("p_size").alias("lvl_max")))
    lvl = lvl.withColumn(
        "best_cheaper", F.max("lvl_max").over(
            W.orderBy("p_retailprice")
            .rowsBetween(W.unboundedPreceding, -1)))
    return (p.join(F.broadcast(lvl), "p_retailprice")
            .filter((F.col("p_size") == F.col("lvl_max"))
                    & (F.col("best_cheaper").isNull()
                       | (F.col("p_size") > F.col("best_cheaper"))))
            .select("p_partkey", "p_retailprice", "p_size"))


# ---------------------------------------------------------------------------
# user trajectory similarity (edit distance over event-type sequences)
# ---------------------------------------------------------------------------

_TRAJ_SQL = """
WITH seqs AS (
  SELECT user_id,
         left(string_agg(left(event_type, 1), '' ORDER BY ts, event_id),
              20) AS seq
  FROM events
  GROUP BY user_id
),
blocked AS (
  SELECT user_id, seq, length(seq) AS ln, left(seq, 2) AS blk
  FROM seqs WHERE length(seq) >= 5
),
pairs AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         levenshtein(a.seq, b.seq) AS edit_dist
  FROM blocked a
  JOIN blocked b ON b.ln = a.ln AND b.blk = a.blk
                AND a.user_id < b.user_id
)
SELECT user_a, user_b, edit_dist FROM pairs
ORDER BY edit_dist ASC, user_a ASC, user_b ASC
LIMIT 50
"""


@query("user_trajectory_similarity", _TRAJ_SQL)
def user_trajectory_similarity(spark, sf_dir):
    """Trajectory similarity over event-type sequences (cf. REPOSE's
    reference-point blocking for distributed trajectory search,
    PAPERS.md): each user's first 20 event-type initials form a
    trajectory string; candidate pairs come from a BLOCKING join on
    (length, 2-char prefix) — the relational stand-in for reference-point
    tries, collapsing the all-pairs space to within-block pairs — then
    exact Levenshtein ranks the block survivors and TakeOrdered emits the
    closest 50. Every stage is combinable or blocked; no all-pairs join
    exists. Deterministic: ordered string_agg with (ts, event_id)
    tiebreak, (dist, ids) ranking."""
    e = t(spark, sf_dir, "events")
    seq = F.substring(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(ts, event_id,"
                   " substring(event_type, 1, 1) AS c))), s -> s.c)"),
            ""), 1, 20)
    seqs = e.groupBy("user_id").agg(seq.alias("seq"))
    blocked = (seqs.filter(F.length("seq") >= 5)
               .select("user_id", "seq",
                       F.length("seq").alias("ln"),
                       F.substring("seq", 1, 2).alias("blk")))
    a = blocked.select(F.col("user_id").alias("user_a"),
                       F.col("seq").alias("seq_a"), "ln", "blk")
    b = blocked.select(F.col("user_id").alias("user_b"),
                       F.col("seq").alias("seq_b"), "ln", "blk")
    return (a.join(b, ["ln", "blk"])
            .filter(F.col("user_a") < F.col("user_b"))
            .select("user_a", "user_b",
                    F.levenshtein("seq_a", "seq_b").alias("edit_dist"))
            .orderBy(F.asc("edit_dist"), F.asc("user_a"), F.asc("user_b"))
            .limit(50))


# ---------------------------------------------------------------------------
# label propagation communities (fixed semi-synchronous rounds)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _lpa_sql() -> str:
    from arangodb_java_parquet_spark.queries.text_pipeline import (
        _MINHASH_SIG_SQL, lsh_pairs_cte_sql)
    parts = [_MINHASH_SIG_SQL + lsh_pairs_cte_sql("pairs") + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(f""",
v{r} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN l{r - 1} l ON l.node = e.src
  GROUP BY e.dst, l.label
),
l{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM v{r}
  ) WHERE rn = 1
)""")
    parts.append(f"""
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(node) AS BIGINT) AS min_member
FROM l{_LPA_ROUNDS} GROUP BY label""")
    return "".join(parts)


def _lpa_labels(spark, sf_dir):
    """Shared fixed-round semi-synchronous LPA (edges, final labels) —
    one implementation, two consumers (community sizes + modularity),
    same SQL template on the oracle side (the _kmeans_assign pattern)."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = lsh_candidate_pairs(minhash_signatures(sh))
    # the edge table feeds the seed labels AND every round's vote join;
    # lambda-HOF minhash subtrees don't canonicalize (no ReusedExchange),
    # so without a checkpoint the whole shingle->minhash->LSH lineage is
    # re-derived per use (r4 plan audit: 31 exchanges, 0 reused).
    # localCheckpoint caps the plan at the materialized edge list —
    # the same pattern as bpe_pair_merge_fit / curation.py CC.
    edges = (symmetric_edges(cand)
             .transform(materialize))
    labels = edges.select(F.col("src").alias("node")).distinct() \
        .withColumn("label", F.col("node"))
    for _ in range(_LPA_ROUNDS):
        votes = (edges.join(labels.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"), "label")
                 .agg(F.count(F.lit(1)).alias("c")))
        labels = (votes.withColumn(
                      "rn", F.row_number().over(
                          W.partitionBy("node")
                          .orderBy(F.desc("c"), F.asc("label"))))
                  .filter(F.col("rn") == 1)
                  .select("node", "label"))
    return edges, labels


@query("graph_label_propagation", _lpa_sql())
def graph_label_propagation(spark, sf_dir):
    """Label-propagation COMMUNITIES over the LSH similarity graph —
    the O(E)-per-round community detector (Raghavan et al. 2007),
    complementing connected components (CC merges everything reachable;
    LPA splits dense regions apart). Semi-synchronous fixed rounds with
    fully deterministic updates: each node adopts its neighbors'
    modal label with a (count desc, label asc) tiebreak — the classic
    random-tie LPA made reproducible. Each round is one edges×labels
    join + two combinable aggregations; plan depth fixed by the round
    count. Output: community sizes."""
    _, labels = _lpa_labels(spark, sf_dir)
    return (labels.groupBy(F.col("label").alias("community"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"),
                 F.min("node").cast("bigint").alias("min_member")))


def _modularity_sql() -> str:
    base = _lpa_sql()
    final = f"""
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(node) AS BIGINT) AS min_member
FROM l{_LPA_ROUNDS} GROUP BY label"""
    assert final in base
    return base.replace(final, f""",
lsz AS (
  SELECT node, label,
         CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n_members
  FROM l{_LPA_ROUNDS}
),
labeled AS (
  SELECT ls.label AS lsrc, ld.label AS ldst, ls.n_members
  FROM edges e
  JOIN lsz ls ON ls.node = e.src
  JOIN lsz ld ON ld.node = e.dst
),
stats AS (
  SELECT lsrc AS community,
         CAST(MAX(n_members) AS BIGINT) AS n_members,
         CAST(COUNT(*) AS BIGINT) AS deg_sum,
         CAST(SUM(CASE WHEN lsrc = ldst THEN 1 ELSE 0 END) AS BIGINT)
           AS intra_dir
  FROM labeled GROUP BY lsrc
),
wst AS (
  SELECT community, n_members, deg_sum, intra_dir,
         CAST(SUM(deg_sum) OVER () AS BIGINT) AS n_dir
  FROM stats
)
SELECT community, n_members,
       CAST(intra_dir // 2 AS BIGINT) AS intra_edges,
       deg_sum,
       intra_dir / CAST(n_dir AS DOUBLE)
         - (deg_sum / CAST(n_dir AS DOUBLE))
           * (deg_sum / CAST(n_dir AS DOUBLE)) AS q_contrib
FROM wst""")


@query("graph_modularity_lpa", _modularity_sql())
def graph_modularity_lpa(spark, sf_dir):
    """Newman MODULARITY of the label-propagation communities — the
    standard did-the-community-detector-find-real-structure score:
    per community c, Q_c = e_c/m - (d_c/2m)^2 (intra-edge share minus
    the degree-null-model expectation); the global Q is the sum of the
    q_contrib column. Reuses the SAME fixed-round LPA assignment as
    graph_label_propagation (one implementation, one SQL template, two
    consumers — the _kmeans_assign pattern).

    On the directed (doubled) edge table, intra_dir = 2*e_c and
    n_dir = 2m, so both modularity terms are ratios of plain integer
    counts — IEEE-identical without any rounding. The per-community
    joins are label lookups keyed by node; nothing is all-pairs.

    Scale (r12 single-pass reformulation): ONE labeled-edge pass — both
    endpoint labels attach to each directed edge, and the community
    SIZE rides along the label rows (one window over the
    label-partitioned table, materialized with the labels), so one
    combinable aggregation yields n_members (max of identical
    per-member sizes), deg_sum (count per source community: each
    directed edge contributes 1 to its src's degree) AND intra_dir
    (same-label indicator sum) together — replacing the former separate
    degree table + intra-edge join + size join chain (9 exchanges ->
    6); n_dir is a window total over the report-sized stats rows, not
    a separate corpus aggregate."""
    edges, labels = _lpa_labels(spark, sf_dir)
    labels = (labels.withColumn(
                  "n_members",
                  F.count(F.lit(1)).over(W.partitionBy("label"))
                  .cast("bigint"))
              .transform(materialize))
    ls = labels.select(F.col("node").alias("src"),
                       F.col("label").alias("lsrc"), "n_members")
    ld = labels.select(F.col("node").alias("dst"),
                       F.col("label").alias("ldst"))
    labeled = edges.join(ls, "src").join(ld, "dst")
    stats = (labeled.groupBy(F.col("lsrc").alias("community"))
             .agg(F.max("n_members").cast("bigint").alias("n_members"),
                  F.count(F.lit(1)).cast("bigint").alias("deg_sum"),
                  F.sum(F.when(F.col("lsrc") == F.col("ldst"), 1)
                        .otherwise(0)).cast("bigint").alias("intra_dir")))
    wst = stats.withColumn(
        "n_dir",
        F.sum("deg_sum").over(W.rowsBetween(W.unboundedPreceding,
                                            W.unboundedFollowing))
        .cast("bigint"))
    dshare = F.col("deg_sum") / F.col("n_dir").cast("double")
    return wst.select(
        "community", "n_members",
        F.expr("intra_dir DIV 2").cast("bigint").alias("intra_edges"),
        "deg_sum",
        (F.col("intra_dir") / F.col("n_dir").cast("double")
         - dshare * dshare).alias("q_contrib"))


# ---------------------------------------------------------------------------
# population stability index (the tabular drift metric)
# ---------------------------------------------------------------------------

_PSI_BINS = 10

_PSI_SQL = f"""
WITH c AS (
  SELECT o_orderkey % 2 AS half,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
bounds AS (
  SELECT MIN(cents) AS lo, MAX(cents) - MIN(cents) + 1 AS width FROM c
),
binned AS (
  SELECT half, (cents - lo) * {_PSI_BINS} // width AS bin
  FROM c CROSS JOIN bounds
),
counts AS (
  SELECT bin,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) + 1 AS DOUBLE)
           AS na,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) + 1 AS DOUBLE)
           AS nb
  FROM binned GROUP BY bin
),
tots AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM counts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       ROUND(CAST(SUM(CAST(ROUND(
         (na / ta - nb / tb) * ln((na / ta) / (nb / tb)), 9)
         AS DECIMAL(20,9))) AS DOUBLE), 9) AS psi
FROM counts CROSS JOIN tots
"""


@query("psi_distribution_stability", _PSI_SQL)
def psi_distribution_stability(spark, sf_dir):
    """Population Stability Index between two corpus halves over binned
    order value — THE tabular drift score model-risk teams gate on
    (<0.1 stable, >0.25 shifted). Laplace +1 per (bin, side) keeps the
    log finite on empty bins; per-bin terms round-9 into an exact
    decimal sum; integer binning over exact cents (shared with the
    quantile sketch's discipline). Two combinable aggregations over a
    B-row histogram — the 100 TB cost is one scan."""
    o = t(spark, sf_dir, "orders")
    c = o.select((F.col("o_orderkey") % 2).alias("half"),
                 F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                 .alias("cents"))
    bounds = c.agg(F.min("cents").alias("lo"),
                   (F.max("cents") - F.min("cents") + 1).alias("width"))
    binned = (c.crossJoin(F.broadcast(bounds))
              .select("half", F.expr(
                  f"(cents - lo) * {_PSI_BINS} div width").alias("bin")))
    counts = binned.groupBy("bin").agg(
        (F.sum(F.when(F.col("half") == 0, 1).otherwise(0)) + 1)
        .cast("double").alias("na"),
        (F.sum(F.when(F.col("half") == 1, 1).otherwise(0)) + 1)
        .cast("double").alias("nb"))
    tots = counts.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    term = F.round((F.col("na") / F.col("ta") - F.col("nb") / F.col("tb"))
                   * F.log((F.col("na") / F.col("ta"))
                           / (F.col("nb") / F.col("tb"))), 9)
    return (counts.crossJoin(F.broadcast(tots))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bins"),
                 F.round(F.sum(term.cast("decimal(20,9)")).cast("double"),
                         9).alias("psi")))


# ---------------------------------------------------------------------------
# sequential pattern support (ordered type pairs, PrefixSpan L2)
# ---------------------------------------------------------------------------

_SEQ_SQL = """
WITH firsts AS (
  SELECT user_id, event_type, MIN(ts) AS first_ts
  FROM events GROUP BY user_id, event_type
),
supp AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_users
  FROM firsts a JOIN firsts b
    ON b.user_id = a.user_id
   AND (a.first_ts < b.first_ts
        OR (a.first_ts = b.first_ts AND a.event_type < b.event_type))
   AND a.event_type <> b.event_type
  GROUP BY 1, 2
),
tot AS (SELECT COUNT(DISTINCT user_id) AS n FROM events)
SELECT s.type_a, s.type_b, s.n_users,
       ROUND(CAST(s.n_users AS DOUBLE) / tot.n, 9) AS support
FROM supp s CROSS JOIN tot
"""


@query("seq_pattern_support", _SEQ_SQL)
def seq_pattern_support(spark, sf_dir):
    """Sequential-pattern L2 support (PrefixSpan's first level): for
    every ordered event-type pair <a -> b>, the number of users whose
    FIRST a precedes their FIRST b — sequence mining's 'a leads to b'
    table, distinct from markov_event_transitions (adjacent steps) and
    event_pmi_pairs (unordered co-occurrence). First-occurrence collapse
    makes the per-user join |types|², not |events|²; simultaneous firsts
    break ties by type order deterministically."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"))
    a = firsts.select("user_id", F.col("event_type").alias("type_a"),
                      F.col("first_ts").alias("ta"))
    b = firsts.select("user_id", F.col("event_type").alias("type_b"),
                      F.col("first_ts").alias("tb"))
    supp = (a.join(b, "user_id")
            .filter((F.col("type_a") != F.col("type_b"))
                    & ((F.col("ta") < F.col("tb"))
                       | ((F.col("ta") == F.col("tb"))
                          & (F.col("type_a") < F.col("type_b")))))
            .groupBy("type_a", "type_b")
            .agg(F.count(F.lit(1)).alias("n_users")))
    tot = e.agg(F.countDistinct("user_id").alias("n"))
    return (supp.crossJoin(F.broadcast(tot))
            .select("type_a", "type_b", "n_users",
                    F.round(F.col("n_users").cast("double") / F.col("n"),
                            9).alias("support")))


# ---------------------------------------------------------------------------
# graph statistics: 2-hop reach and degree assortativity
# ---------------------------------------------------------------------------

def _graph_base_sql() -> str:
    from arangodb_java_parquet_spark.queries.text_pipeline import (
        _MINHASH_SIG_SQL, lsh_pairs_cte_sql)
    return _MINHASH_SIG_SQL + lsh_pairs_cte_sql("pairs") + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
)"""


@query("graph_two_hop_reach", _graph_base_sql() + """
, hop2 AS (
  SELECT e1.src AS node, e2.dst AS reached
  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
  WHERE e2.dst <> e1.src
  UNION
  SELECT src AS node, dst AS reached FROM edges
)
SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_within_2_hops
FROM hop2 GROUP BY node
""")
def graph_two_hop_reach(spark, sf_dir):
    """2-hop neighborhood size per node of the LSH similarity graph —
    the local-influence measure between degree (1 hop) and full
    reachability (CC): how many documents a correction to this one
    would plausibly touch. One edges self-join + a distinct union;
    at scale the join is bounded by Σ deg² (the same quantity the
    triangle count already pays), never all-pairs."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    # the shingle->minhash->LSH lineage feeds every downstream consumer
    # (both union arms, the degree agg, the self-joins): materialize the
    # candidate pairs ONCE — lambda-HOF subtrees don't canonicalize, so
    # without this the whole lineage re-derives per consumer (29/28
    # exchanges measured).
    cand = lsh_candidate_pairs(minhash_signatures(
        char_shingles(d))).transform(materialize)
    edges = (symmetric_edges(cand))
    e2 = edges.select(F.col("src").alias("mid"),
                      F.col("dst").alias("reached"))
    hop2 = (edges.join(e2, edges.dst == e2.mid)
            .filter(F.col("reached") != F.col("src"))
            .select("src", "reached")
            .union(edges.select("src", F.col("dst").alias("reached")))
            .distinct())
    return (hop2.groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_within_2_hops")))


@query("graph_assortativity", _graph_base_sql() + """
, deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
dpairs AS (
  SELECT CAST(da.d AS DOUBLE) AS x, CAST(db.d AS DOUBLE) AS y
  FROM edges e
  JOIN deg da ON da.node = e.src
  JOIN deg db ON db.node = e.dst
),
moms AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(30,8))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM dpairs
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
         AS assortativity
FROM moms
WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
""")
def graph_assortativity(spark, sf_dir):
    """DEGREE ASSORTATIVITY of the similarity graph: the Pearson
    correlation of endpoint degrees over directed edges (Newman 2002) —
    positive means hubs link hubs (one template family referencing
    itself), negative means hubs link leaves (a boilerplate page copied
    into many one-off documents) — which changes the right dedup policy.
    Exact decimal moment sums over the edges×degrees join (products
    round-6 pre-cast); the cancellation-sensitive correlation round-9s
    at the end per the repo discipline."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    # the shingle->minhash->LSH lineage feeds every downstream consumer
    # (both union arms, the degree agg, the self-joins): materialize the
    # candidate pairs ONCE — lambda-HOF subtrees don't canonicalize, so
    # without this the whole lineage re-derives per consumer (29/28
    # exchanges measured).
    cand = lsh_candidate_pairs(minhash_signatures(
        char_shingles(d))).transform(materialize)
    edges = (symmetric_edges(cand))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dp = (edges
          .join(deg.select(F.col("src").alias("_s"),
                           F.col("d").cast("double").alias("x")),
                F.col("src") == F.col("_s"))
          .join(deg.select(F.col("src").alias("_t"),
                           F.col("d").cast("double").alias("y")),
                F.col("dst") == F.col("_t"))
          .select("x", "y"))
    moms = dp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(30,8)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(30,8)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 6).cast("decimal(38,6)"))
        .cast("double").alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)"))
        .cast("double").alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 6).cast("decimal(38,6)"))
        .cast("double").alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (moms.filter((vx > 0) & (vy > 0))
            .select(F.col("n").cast("bigint").alias("n_directed_edges"),
                    F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 9)
                    .alias("assortativity")))


@query("graph_harmonic_centrality", _graph_base_sql() + """
, deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
          FROM edges GROUP BY src),
hop2 AS (
  SELECT e1.src AS node, e2.dst AS reached
  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
  WHERE e2.dst <> e1.src
  UNION
  SELECT src AS node, dst AS reached FROM edges
),
reach AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS r2
          FROM hop2 GROUP BY node)
SELECT r.node AS doc_id, d.d AS degree, r.r2 AS n_within_2_hops,
       d.d + (r.r2 - d.d) / CAST(2 AS DOUBLE) AS harmonic_2hop
FROM reach r JOIN deg d ON d.node = r.node
""")
def graph_harmonic_centrality(spark, sf_dir):
    """HARMONIC CENTRALITY truncated at 2 hops over the LSH similarity
    graph (Boldi & Vigna 2014's harmonic centrality, the sum of 1/d(u,v),
    here with the sum cut at distance 2 — the standard bounded-radius
    approximation, since full APSP is not a 100 TB operation): neighbors
    contribute 1, distance-2 nodes contribute 1/2. Identifies the
    documents whose near-duplicate neighborhoods are both large AND
    densely connected — the canonical-representative picker for cluster
    dedup. Reuses the two-hop machinery (edges self-join bounded by
    Σ deg², candidate pairs materialized once); the final value is one
    exact integer expression + an IEEE-identical halving, no rounding
    fence needed."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(minhash_signatures(
        char_shingles(d))).transform(materialize)
    edges = (symmetric_edges(cand)
             .transform(materialize))  # deg + both hop legs + union
    deg = (edges.groupBy("src")
           .agg(F.count(F.lit(1)).cast("bigint").alias("degree")))
    e2 = edges.select(F.col("src").alias("mid"),
                      F.col("dst").alias("reached"))
    hop2 = (edges.join(e2, edges.dst == e2.mid)
            .filter(F.col("reached") != F.col("src"))
            .select("src", "reached")
            .union(edges.select("src", F.col("dst").alias("reached")))
            .distinct())
    reach = (hop2.groupBy("src")
             .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("n_within_2_hops")))
    return (reach.join(deg, "src")
            .select(F.col("src").alias("doc_id"), "degree",
                    "n_within_2_hops",
                    (F.col("degree")
                     + (F.col("n_within_2_hops") - F.col("degree"))
                     / F.lit(2).cast("double")).alias("harmonic_2hop")))


# ---------------------------------------------------------------------------
# session bounce rate per day
# ---------------------------------------------------------------------------

_BOUNCE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_seq
  FROM flagged
),
per_sess AS (
  SELECT user_id, session_seq,
         CAST(date_trunc('day', MIN(ts)) AS DATE) AS day,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_seq
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS bounce_rate
FROM per_sess GROUP BY day
"""


@query("session_bounce_rate", _BOUNCE_SQL)
def session_bounce_rate(spark, sf_dir):
    """Session BOUNCE RATE per day (single-event sessions / all
    sessions) — the engagement-quality headline built on the verified
    sessionization operator: gap-based sessions, per-session event
    counts keyed by the session's start day, one rollup. Everything
    partitions by user (bounded history) then by day (report-sized)."""
    from arangodb_java_parquet_spark.operators.temporal import sessionize
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sess = sessionize(e, key="user_id", time="ts", gap=F.lit(1800.0),
                      tiebreak=["event_id"])
    per_sess = (sess.groupBy("user_id", "session_seq")
                .agg(F.date_trunc("day", F.min("ts")).cast("date")
                     .alias("day"),
                     F.count(F.lit(1)).alias("n_events")))
    return (per_sess.groupBy("day")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                 F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_bounces"),
                 F.round(F.sum(F.when(F.col("n_events") == 1, 1)
                               .otherwise(0)).cast("double")
                         / F.count(F.lit(1)), 9).alias("bounce_rate")))


# ---------------------------------------------------------------------------
# Benford first-digit audit and Gini concentration
# ---------------------------------------------------------------------------

_BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice > 0
),
obs AS (
  SELECT d, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS tot
  FROM digits GROUP BY d
)
SELECT d AS first_digit,
       CAST(n AS BIGINT) AS n_obs,
       ROUND(n / tot, 9) AS observed_freq,
       ROUND(ln(1.0e0 + 1.0e0 / d) / ln(10.0e0), 9) AS benford_freq,
       ROUND((n / tot - ln(1.0e0 + 1.0e0 / d) / ln(10.0e0))
             * (n / tot - ln(1.0e0 + 1.0e0 / d) / ln(10.0e0))
             / (ln(1.0e0 + 1.0e0 / d) / ln(10.0e0)), 9) AS chi2_term
FROM obs
"""


@query("benford_first_digit", _BENFORD_SQL)
def benford_first_digit(spark, sf_dir):
    """BENFORD first-digit audit on order values — the fraud/synthetic-
    data forensic: natural multiplicative amounts follow
    P(d) = log10(1 + 1/d); a flat or spiked digit histogram flags
    fabricated numbers (here it also characterizes the synthetic
    generator honestly). First digit extracted from exact integer cents
    (no float formatting ambiguity); expected frequencies and chi²
    terms in identical ln-ratio arithmetic round-9 both sides. One
    combinable aggregation."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.substring(F.expr(
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
        1, 1).cast("int")
    obs = (o.select(d.alias("d"))
           .groupBy("d").agg(F.count(F.lit(1)).cast("double").alias("n"))
           .withColumn("tot", F.sum("n").over(W.partitionBy())))
    bf = F.expr("ln(1.0e0 + 1.0e0 / d) / ln(10.0e0)")
    dev = F.col("n") / F.col("tot") - bf
    return obs.select(
        F.col("d").alias("first_digit"),
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(F.col("n") / F.col("tot"), 9).alias("observed_freq"),
        F.round(bf, 9).alias("benford_freq"),
        F.round(dev * dev / bf, 9).alias("chi2_term"))


_GINI_SQL = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev,
         ROW_NUMBER() OVER (ORDER BY rev ASC, o_custkey ASC) AS i,
         COUNT(*) OVER () AS n
  FROM cust
),
sums AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST(ROUND(i * rev, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS s_iw,
         CAST(SUM(CAST(rev AS DECIMAL(30,8))) AS DOUBLE) AS s_w
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(2.0e0 * s_iw / (n * s_w)
             - (CAST(n AS DOUBLE) + 1.0e0) / n, 9) AS gini
FROM sums
"""


@query("gini_revenue_concentration", _GINI_SQL)
def gini_revenue_concentration(spark, sf_dir):
    """GINI COEFFICIENT of customer revenue — the single-number
    concentration complement to pareto_revenue_share's curve, via the
    rank formula G = 2·Σ(i·x_(i))/(n·Σx) - (n+1)/n over ascending-sorted
    revenues (unique customer-id tiebreak). Per-customer revenues are
    exact decimal sums; the rank-weighted sum rounds products to 6
    before its decimal accumulation (revenue magnitudes make round-9
    unsafe); one sort-backed window over the already-reduced customer
    table."""
    o = t(spark, sf_dir, "orders")
    cust = (o.groupBy("o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                 .cast("double").alias("rev")))
    ranked = cust.select(
        "rev",
        F.row_number().over(W.orderBy(F.asc("rev"), F.asc("o_custkey")))
        .alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"))
    sums = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.round(F.col("i") * F.col("rev"), 6).cast("decimal(38,6)"))
        .cast("double").alias("s_iw"),
        F.sum(F.col("rev").cast("decimal(30,8)")).cast("double")
        .alias("s_w"))
    return sums.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.lit(2.0) * F.col("s_iw")
                / (F.col("n") * F.col("s_w"))
                - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n"), 9)
        .alias("gini"))


# ---------------------------------------------------------------------------
# linear (equal-credit) attribution
# ---------------------------------------------------------------------------

_ATTR_LIN_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events WHERE user_id < 300
),
purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM ev WHERE event_type = 'purchase'
),
touches AS (
  SELECT DISTINCT p.p_id, e.event_type
  FROM purchases p
  JOIN ev e ON e.user_id = p.user_id
           AND (e.ts < p.p_ts OR (e.ts = p.p_ts AND e.event_id < p.p_id))
           AND e.event_type <> 'purchase'
),
k AS (
  SELECT p_id, COUNT(*) AS n_types FROM touches GROUP BY p_id
)
SELECT t.event_type AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
       ROUND(CAST(SUM(CAST(ROUND(1.0e0 / k.n_types, 9) AS DECIMAL(20,9)))
                  AS DOUBLE), 9) AS linear_credit
FROM touches t JOIN k ON k.p_id = t.p_id
GROUP BY t.event_type
"""


@query("attribution_linear", _ATTR_LIN_SQL)
def attribution_linear(spark, sf_dir):
    """LINEAR attribution: each purchase splits one unit of credit
    equally across the DISTINCT touch types that preceded it — the
    order-free counterpart to attribution_last_touch (last-touch
    over-credits the final click; linear shows the full mix). Credits
    are round-9 fractions summed exactly in decimal; the prior-touch
    join is per-user (bounded history) with the (ts, event_id) tiebreak
    for simultaneous events."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("p_ts"),
                         F.col("event_id").alias("p_id")))
    touches = (purchases.join(
                   e.select("user_id", "ts", "event_id", "event_type"),
                   "user_id")
               .filter((F.col("event_type") != "purchase")
                       & ((F.col("ts") < F.col("p_ts"))
                          | ((F.col("ts") == F.col("p_ts"))
                             & (F.col("event_id") < F.col("p_id")))))
               .select("p_id", "event_type").distinct())
    k = touches.groupBy("p_id").agg(F.count(F.lit(1)).alias("n_types"))
    return (touches.join(k, "p_id")
            .groupBy(F.col("event_type").alias("touch_type"))
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_purchases_touched"),
                 F.round(F.sum(
                     F.round(F.lit(1.0) / F.col("n_types"), 9)
                     .cast("decimal(20,9)")).cast("double"), 9)
                 .alias("linear_credit")))


# ---------------------------------------------------------------------------
# L3 sequential patterns (a -> b -> c by first occurrences)
# ---------------------------------------------------------------------------

_SEQ3_SQL = """
WITH firsts AS (
  SELECT user_id, event_type, MIN(ts) AS t
  FROM events GROUP BY user_id, event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       c.event_type AS type_c,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM firsts a
JOIN firsts b ON b.user_id = a.user_id
             AND (a.t < b.t OR (a.t = b.t AND a.event_type < b.event_type))
JOIN firsts c ON c.user_id = a.user_id
             AND (b.t < c.t OR (b.t = c.t AND b.event_type < c.event_type))
WHERE a.event_type <> b.event_type AND b.event_type <> c.event_type
  AND a.event_type <> c.event_type
GROUP BY 1, 2, 3
"""


@query("seq_pattern_support_l3", _SEQ3_SQL)
def seq_pattern_support_l3(spark, sf_dir):
    """Sequential-pattern L3 support: ordered triples <a -> b -> c> of
    FIRST occurrences per user (PrefixSpan's next level after
    seq_pattern_support). First-occurrence collapse keeps the per-user
    join |types|³, never |events|³; simultaneous firsts break ties by
    type order so the chain is a strict total order."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t"))
    a = firsts.select("user_id", F.col("event_type").alias("type_a"),
                      F.col("t").alias("ta"))
    b = firsts.select("user_id", F.col("event_type").alias("type_b"),
                      F.col("t").alias("tb"))
    c = firsts.select("user_id", F.col("event_type").alias("type_c"),
                      F.col("t").alias("tc"))
    lt = lambda t1, t2, y1, y2: ((F.col(t1) < F.col(t2))  # noqa: E731
                                 | ((F.col(t1) == F.col(t2))
                                    & (F.col(y1) < F.col(y2))))
    return (a.join(b, "user_id").filter(lt("ta", "tb", "type_a", "type_b"))
            .join(c, "user_id").filter(lt("tb", "tc", "type_b", "type_c"))
            .filter((F.col("type_a") != F.col("type_b"))
                    & (F.col("type_b") != F.col("type_c"))
                    & (F.col("type_a") != F.col("type_c")))
            .groupBy("type_a", "type_b", "type_c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


# ---------------------------------------------------------------------------
# consecutive-order priority transitions (order-level Markov)
# ---------------------------------------------------------------------------

_OPM_SQL = """
WITH seq AS (
  SELECT o_custkey, o_orderpriority,
         lead(o_orderpriority) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
           AS next_priority
  FROM orders
),
c AS (
  SELECT o_orderpriority AS from_priority, next_priority AS to_priority,
         COUNT(*) AS n
  FROM seq WHERE next_priority IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_priority, SUM(n) AS t FROM c GROUP BY from_priority
)
SELECT c.from_priority, c.to_priority, CAST(c.n AS BIGINT) AS n_transitions,
       ROUND(CAST(c.n AS DOUBLE) / tot.t, 9) AS p
FROM c JOIN tot ON tot.from_priority = c.from_priority
"""


@query("order_priority_markov", _OPM_SQL)
def order_priority_markov(spark, sf_dir):
    """Order-level Markov chain: transition matrix of CONSECUTIVE order
    priorities per customer ((date, orderkey)-ordered lead) — the
    business-process counterpart of markov_event_transitions (does an
    urgent order beget urgent reorders?). One per-customer window +
    two combinable rollups; probabilities are exact-count ratios
    round-9."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_orderpriority",
        F.lead("o_orderpriority").over(w).alias("next_priority"))
    c = (seq.filter(F.col("next_priority").isNotNull())
         .groupBy(F.col("o_orderpriority").alias("from_priority"),
                  F.col("next_priority").alias("to_priority"))
         .agg(F.count(F.lit(1)).alias("n")))
    tot = c.groupBy("from_priority").agg(F.sum("n").alias("t"))
    return (c.join(tot, "from_priority")
            .select("from_priority", "to_priority",
                    F.col("n").cast("bigint").alias("n_transitions"),
                    F.round(F.col("n").cast("double") / F.col("t"), 9)
                    .alias("p")))


@query("graph_kcore_2core", _graph_base_sql() + """
, d1 AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
k1 AS (SELECT node FROM d1 WHERE deg >= 2),
e1 AS (SELECT e.src, e.dst FROM edges e
       JOIN k1 a ON a.node = e.src JOIN k1 b ON b.node = e.dst),
d2 AS (SELECT src AS node, COUNT(*) AS deg FROM e1 GROUP BY src),
k2 AS (SELECT node FROM d2 WHERE deg >= 2),
e2 AS (SELECT e.src, e.dst FROM e1 e
       JOIN k2 a ON a.node = e.src JOIN k2 b ON b.node = e.dst),
d3 AS (SELECT src AS node, COUNT(*) AS deg FROM e2 GROUP BY src)
SELECT node AS doc_id, CAST(deg AS BIGINT) AS core_degree
FROM d3 WHERE deg >= 2
""")
def graph_kcore_2core(spark, sf_dir):
    """K-CORE decomposition (k=2, bounded peeling rounds) of the LSH
    similarity graph: iteratively drop degree-<2 nodes and re-count —
    the dense-duplicate-region extractor (a 2-core member sits inside a
    cycle of near-duplicates; tree-like incidental collisions peel
    away). Two unrolled pruning rounds + a final degree pass, matching
    the oracle's unrolled CTEs exactly; each round is one combinable
    degree count + two semi-join-shaped filters on the shrinking edge
    set, O(edges) per round — the textbook distributed k-core step. The
    edge table is materialized once (lazy checkpoint) so the peeling
    lineage doesn't re-derive the minhash banding per round."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    # the shingle->minhash->LSH lineage feeds every downstream consumer
    # (both union arms, the degree agg, the self-joins): materialize the
    # candidate pairs ONCE — lambda-HOF subtrees don't canonicalize, so
    # without this the whole lineage re-derives per consumer (29/28
    # exchanges measured).
    cand = lsh_candidate_pairs(minhash_signatures(
        char_shingles(d))).transform(materialize)
    edges = (symmetric_edges(cand)
             .transform(materialize))
    for _ in range(2):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= 2).select("src")
        edges = (edges.join(keep, "src")
                 .join(keep.withColumnRenamed("src", "dst"), "dst")
                 .select("src", "dst").transform(materialize, "iter"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return (deg.filter(F.col("deg") >= 2)
            .select(F.col("src").alias("doc_id"),
                    F.col("deg").cast("bigint").alias("core_degree")))


@query("attribution_position_based", """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events WHERE user_id < 300
),
pur AS (SELECT user_id, ts AS pts, event_id AS pid FROM ev
        WHERE event_type = 'purchase'),
touch AS (
  SELECT p.pid, e.event_type,
         ROW_NUMBER() OVER (PARTITION BY p.pid
                            ORDER BY e.ts, e.event_id) AS rn,
         COUNT(*) OVER (PARTITION BY p.pid) AS n
  FROM pur p JOIN ev e
    ON e.user_id = p.user_id
   AND (e.ts < p.pts OR (e.ts = p.pts AND e.event_id < p.pid))
  WHERE e.event_type <> 'purchase'
),
credit AS (
  SELECT event_type,
         CASE WHEN n = 1 THEN 1.0
              WHEN n = 2 THEN 0.5
              WHEN rn = 1 OR rn = n THEN 0.4
              ELSE ROUND(0.2 / (n - 2), 9) END AS c
  FROM touch
)
SELECT event_type AS attributed_type,
       CAST(SUM(CAST(c AS DECIMAL(20,9))) AS DOUBLE) AS total_credit,
       COUNT(*) AS n_touches
FROM credit GROUP BY 1
""")
def attribution_position_based(spark, sf_dir):
    """POSITION-BASED (U-shaped 40/20/40) multi-touch attribution — the
    industry-standard middle ground between attribution_last_touch and
    attribution_linear: first and last prior touches get 40% of each
    purchase's credit, the middle touches split the remaining 20%
    evenly (single touch gets 100%, a pair splits 50/50). Prior-touch
    enumeration is one per-purchase inequality join bounded by per-user
    activity; ranking is a per-purchase window; credits are exact
    rationals round-9 fenced then decimal-summed. The three attribution
    models together let a pipeline quantify model-choice sensitivity."""
    e = (t(spark, sf_dir, "events")
         .filter(F.col("user_id") < 300)
         .select("user_id", "ts", "event_id", "event_type"))
    pur = (e.filter(F.col("event_type") == "purchase")
           .select("user_id", F.col("ts").alias("pts"),
                   F.col("event_id").alias("pid")))
    touch = (pur.join(
        e.filter(F.col("event_type") != "purchase"),
        (pur.user_id == e.user_id)
        & ((e.ts < F.col("pts"))
           | ((e.ts == F.col("pts")) & (e.event_id < F.col("pid")))))
        .select("pid", "event_type", "ts", "event_id"))
    wr = W.partitionBy("pid").orderBy("ts", "event_id")
    wn = W.partitionBy("pid")
    ranked = touch.select(
        "event_type",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    credit = ranked.select(
        "event_type",
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 0.4)
        .otherwise(F.round(0.2 / (F.col("n") - 2), 9)).alias("c"))
    return (credit.groupBy(F.col("event_type").alias("attributed_type"))
            .agg(F.sum(F.col("c").cast("decimal(20,9)")).cast("double")
                 .alias("total_credit"),
                 F.count(F.lit(1)).alias("n_touches")))


@query("graph_edge_triangle_support", _graph_base_sql() + """
, supp AS (
  SELECT p.doc_a, p.doc_b, COUNT(w.dst) AS support
  FROM pairs p
  LEFT JOIN edges u ON u.src = p.doc_a
  LEFT JOIN edges w ON w.src = p.doc_b AND w.dst = u.dst
                   AND w.dst <> p.doc_a AND w.dst <> p.doc_b
  GROUP BY p.doc_a, p.doc_b
)
SELECT doc_a, doc_b, CAST(support AS BIGINT) AS support,
       support >= 1 AS in_2truss
FROM supp
""")
def graph_edge_triangle_support(spark, sf_dir):
    """EDGE TRIANGLE SUPPORT — the k-truss building block: for every
    LSH-similarity edge, the number of triangles through it (= common
    neighbors of its endpoints). support = 0 marks BRIDGE-LIKE edges
    (band collisions with no corroborating structure — prime false-
    positive suspects), support >= k-2 is k-truss membership (dense
    near-duplicate cores stricter than 2-core). One wedge join bounded
    by Σ deg² — the same budget triangle counting pays — with common-
    neighbor counting per undirected edge; no all-pairs anywhere."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    # the shingle->minhash->LSH lineage feeds every downstream consumer
    # (both union arms, the degree agg, the self-joins): materialize the
    # candidate pairs ONCE — lambda-HOF subtrees don't canonicalize, so
    # without this the whole lineage re-derives per consumer (29/28
    # exchanges measured).
    cand = lsh_candidate_pairs(minhash_signatures(
        char_shingles(d))).transform(materialize)
    edges = (symmetric_edges(cand)
             .transform(materialize))
    ua = edges.select(F.col("src").alias("doc_a"),
                      F.col("dst").alias("na"))
    ub = edges.select(F.col("src").alias("doc_b"),
                      F.col("dst").alias("nb"))
    supp = (cand.join(ua, "doc_a", "left")
            .join(ub, (F.col("nb") == F.col("na"))
                  & (ub.doc_b == cand.doc_b)
                  & (F.col("nb") != cand.doc_a)
                  & (F.col("nb") != cand.doc_b), "left")
            .groupBy(cand.doc_a, cand.doc_b)
            .agg(F.count(F.col("nb")).alias("support")))
    return supp.select("doc_a", "doc_b",
                       F.col("support").cast("bigint").alias("support"),
                       (F.col("support") >= 1).alias("in_2truss"))


# ---------------------------------------------------------------------------
# classical seasonal-trend decomposition (round 7)
# ---------------------------------------------------------------------------

_DECOMP_CTE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(dayofweek(CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT)
           AS dow,  -- DuckDB dayofweek is 0=Sunday; Spark's is 1=Sunday
         {sql_dsum('value')} AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
trended AS (
  SELECT day, dow, revenue,
         CASE WHEN COUNT(*) OVER w7 = 7
              THEN CAST(SUM(CAST(revenue AS DECIMAL(30,8))) OVER w7
                        AS DOUBLE) / 7
              ELSE NULL END AS trend
  FROM daily
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seasonal AS (
  SELECT dow,
         CAST(SUM(CAST(ROUND(revenue - trend, 9) AS DECIMAL(30,9)))
              AS DOUBLE) / COUNT(trend) AS seasonal
  FROM trended WHERE trend IS NOT NULL
  GROUP BY dow
)
"""


@query("timeseries_classical_decompose", _DECOMP_CTE + """
SELECT t.day, t.dow, t.revenue, t.trend, s.seasonal,
       t.revenue - t.trend - s.seasonal AS residual
FROM trended t JOIN seasonal s USING (dow)
WHERE t.trend IS NOT NULL
""")
def timeseries_classical_decompose(spark, sf_dir):
    """Classical additive seasonal-trend decomposition of daily revenue
    (the moving-average method behind STL's initialization): trend =
    centered 7-day moving average (full windows only), weekly seasonal =
    per-day-of-week mean of the detrended series, residual = the rest —
    the standard anomaly/forecast preprocessing split.

    Determinism: daily revenue is an exact decimal sum; the centered MA
    is a windowed decimal sum / 7; detrended values (~1e3 magnitude) are
    round-9'd before the exact decimal seasonal mean; the residual is
    plain subtraction of bit-identical doubles. Scale: one shuffle to
    daily grain (combinable), then O(days) window/group work — the series
    length, not the event volume, bounds everything downstream."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(dsum("value").alias("revenue"))
             .withColumn("dow", F.dayofweek("day").cast("bigint")))
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day", "dow", "revenue",
        F.when(F.count(F.lit(1)).over(w7) == 7,
               F.sum(F.col("revenue").cast("decimal(30,8)")).over(w7)
               .cast("double") / 7).alias("trend"))
    seasonal = (trended.filter(F.col("trend").isNotNull())
                .groupBy("dow")
                .agg((F.sum(F.round(F.col("revenue") - F.col("trend"), 9)
                            .cast("decimal(30,9)")).cast("double")
                      / F.count("trend")).alias("seasonal")))
    return (trended.filter(F.col("trend").isNotNull())
            .join(F.broadcast(seasonal), "dow")
            .select("day", "dow", "revenue", "trend", "seasonal",
                    (F.col("revenue") - F.col("trend") - F.col("seasonal"))
                    .alias("residual")))


# ---------------------------------------------------------------------------
# time-decay attribution (round 9g)
# ---------------------------------------------------------------------------

_ATTR_DECAY_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events WHERE user_id < 300
),
purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM ev WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.p_id, e.event_type,
         ROUND(exp(0 - (CAST(epoch_us(CAST(p.p_ts AS TIMESTAMP))
                             - epoch_us(CAST(e.ts AS TIMESTAMP))
                             AS DOUBLE) / 3600000000)
                       * (ln(CAST(2 AS DOUBLE)) / 24)), 9) AS w
  FROM purchases p
  JOIN ev e ON e.user_id = p.user_id
           AND (e.ts < p.p_ts OR (e.ts = p.p_ts AND e.event_id < p.p_id))
           AND e.event_type <> 'purchase'
),
norm AS (
  SELECT p_id,
         CAST(SUM(CAST(w AS DECIMAL(20,9))) AS DOUBLE) AS sw
  FROM touches GROUP BY p_id
)
SELECT t.event_type AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(CAST(SUM(CAST(ROUND(t.w / n.sw, 9) AS DECIMAL(20,9)))
                  AS DOUBLE), 9) AS decayed_credit
FROM touches t JOIN norm n ON n.p_id = t.p_id
GROUP BY t.event_type
"""


@query("attribution_time_decay", _ATTR_DECAY_SQL)
def attribution_time_decay(spark, sf_dir):
    """TIME-DECAY attribution (half-life 24h): every touch before a
    purchase earns weight 2^(-age/halflife), normalized to one unit of
    credit per purchase — completes the standard four-model attribution
    suite (last-touch, linear, position-based, time-decay). Unlike the
    linear entry it credits every touch OCCURRENCE, so recent repeated
    nudges outweigh one old impression.

    The decay weight is exp of an integer microsecond age times the
    integer-ratio constant ln(2)/24 per hour (no float literals);
    weights are round-9 fenced, per-purchase normalizers are exact
    decimal sums, and shares are round-9'd single divisions before the
    final decimal rollup. The touch join is per-user (bounded history)
    with the (ts, event_id) simultaneity tiebreak shared with the other
    attribution entries."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("p_ts"),
                         F.col("event_id").alias("p_id")))
    dus = (F.unix_micros(F.col("p_ts").cast("timestamp"))
           - F.unix_micros(F.col("ts").cast("timestamp")))
    w = F.round(F.exp(F.lit(0) - (dus.cast("double") / 3600000000)
                      * (F.log(F.lit(2).cast("double")) / 24)), 9)
    touches = (purchases.join(
                   e.select("user_id", "ts", "event_id", "event_type"),
                   "user_id")
               .filter((F.col("event_type") != "purchase")
                       & ((F.col("ts") < F.col("p_ts"))
                          | ((F.col("ts") == F.col("p_ts"))
                             & (F.col("event_id") < F.col("p_id")))))
               .select("p_id", "event_type", w.alias("w")))
    norm = touches.groupBy("p_id").agg(
        F.sum(F.col("w").cast("decimal(20,9)")).cast("double").alias("sw"))
    return (touches.join(norm, "p_id")
            .groupBy(F.col("event_type").alias("touch_type"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_touches"),
                 F.round(F.sum(F.round(F.col("w") / F.col("sw"), 9)
                               .cast("decimal(20,9)")).cast("double"), 9)
                 .alias("decayed_credit")))


@query("timeseries_strength_measures", _DECOMP_CTE + """
, comp AS (
  SELECT (t.revenue - t.trend - s.seasonal) / CAST(1024 AS DOUBLE) AS r,
         (t.revenue - s.seasonal) / CAST(1024 AS DOUBLE) AS tr,
         (t.revenue - t.trend) / CAST(1024 AS DOUBLE) AS sr
  FROM trended t JOIN seasonal s USING (dow)
  WHERE t.trend IS NOT NULL
),
m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(r, 9) AS DECIMAL(30,9))) AS DOUBLE)
           / COUNT(*) AS mr,
         CAST(SUM(CAST(ROUND(tr, 9) AS DECIMAL(30,9))) AS DOUBLE)
           / COUNT(*) AS mtr,
         CAST(SUM(CAST(ROUND(sr, 9) AS DECIMAL(30,9))) AS DOUBLE)
           / COUNT(*) AS msr
  FROM comp
),
v AS (
  SELECT MAX(m.n) AS n,
         CAST(SUM(CAST(ROUND((c.r - m.mr) * (c.r - m.mr), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) / MAX(m.n) AS vr,
         CAST(SUM(CAST(ROUND((c.tr - m.mtr) * (c.tr - m.mtr), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) / MAX(m.n) AS vtr,
         CAST(SUM(CAST(ROUND((c.sr - m.msr) * (c.sr - m.msr), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) / MAX(m.n) AS vsr
  FROM comp c CROSS JOIN m
)
SELECT CAST(n AS BIGINT) AS n_days,
       vr AS var_resid, vtr AS var_trend_resid, vsr AS var_seas_resid,
       ROUND(GREATEST(CAST(0 AS DOUBLE), 1 - vr / vtr), 9) AS f_trend,
       ROUND(GREATEST(CAST(0 AS DOUBLE), 1 - vr / vsr), 9) AS f_seasonal
FROM v
""")
def timeseries_strength_measures(spark, sf_dir):
    """TREND/SEASONAL STRENGTH of the daily-revenue series (Hyndman &
    Athanasopoulos, fpp3 §4.3: F_T = max(0, 1 - Var(R)/Var(T+R)),
    F_S = max(0, 1 - Var(R)/Var(S+R))) computed on the SAME classical
    decomposition timeseries_classical_decompose emits (_DECOMP_CTE —
    one source of truth) — the pair of [0,1] scalars a feature-store /
    forecasting pipeline uses to route series to seasonal vs
    non-seasonal models. Determinism: components are scaled by the
    exact binary factor 1/1024 before squaring (keeps squares below the
    round-9 magnitude ceiling at any revenue scale — the strength
    ratios are scale-invariant), variances are TWO-PASS (mean first,
    then round-9 squared deviations, exact decimal sums) so there is no
    catastrophic cancellation anywhere; the final ratios are round-9
    fenced. O(days) work after the daily rollup."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    daily = (ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(dsum("value").alias("revenue"))
             .withColumn("dow", F.dayofweek("day").cast("bigint")))
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day", "dow", "revenue",
        F.when(F.count(F.lit(1)).over(w7) == 7,
               F.sum(F.col("revenue").cast("decimal(30,8)")).over(w7)
               .cast("double") / 7).alias("trend"))
    seasonal = (trended.filter(F.col("trend").isNotNull())
                .groupBy("dow")
                .agg((F.sum(F.round(F.col("revenue") - F.col("trend"), 9)
                            .cast("decimal(30,9)")).cast("double")
                      / F.count("trend")).alias("seasonal")))
    k = F.lit(1024).cast("double")
    comp = (trended.filter(F.col("trend").isNotNull())
            .join(F.broadcast(seasonal), "dow")
            .select(((F.col("revenue") - F.col("trend")
                      - F.col("seasonal")) / k).alias("r"),
                    ((F.col("revenue") - F.col("seasonal")) / k)
                    .alias("tr"),
                    ((F.col("revenue") - F.col("trend")) / k).alias("sr"))
            .transform(materialize))  # feeds means + deviations
    dmean = lambda c: (F.sum(F.round(F.col(c), 9)  # noqa: E731
                             .cast("decimal(30,9)")).cast("double")
                       / F.count(F.lit(1)))
    m = comp.agg(F.count(F.lit(1)).alias("n"), dmean("r").alias("mr"),
                 dmean("tr").alias("mtr"), dmean("sr").alias("msr"))
    dvar = lambda c, mc: (F.sum(F.round(  # noqa: E731
        (F.col(c) - F.col(mc)) * (F.col(c) - F.col(mc)), 9)
        .cast("decimal(30,9)")).cast("double") / F.max("n"))
    v = (comp.crossJoin(F.broadcast(m))
         .agg(F.max("n").cast("bigint").alias("n_days"),
              dvar("r", "mr").alias("var_resid"),
              dvar("tr", "mtr").alias("var_trend_resid"),
              dvar("sr", "msr").alias("var_seas_resid")))
    zero = F.lit(0).cast("double")
    return v.select(
        "n_days", "var_resid", "var_trend_resid", "var_seas_resid",
        F.round(F.greatest(zero, 1 - F.col("var_resid")
                           / F.col("var_trend_resid")), 9)
        .alias("f_trend"),
        F.round(F.greatest(zero, 1 - F.col("var_resid")
                           / F.col("var_seas_resid")), 9)
        .alias("f_seasonal"))


@query("graph_rich_club_coefficient", _graph_base_sql() + """
, deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
          FROM edges GROUP BY src),
ks AS (SELECT UNNEST(range(1, 9)) AS k),
rich AS (
  SELECT ks.k, deg.node
  FROM ks JOIN deg ON deg.d > ks.k
),
rc AS (
  SELECT r.k,
         CAST(COUNT(DISTINCT r.node) AS BIGINT) AS n_rich,
         CAST(SUM(CASE WHEN db.d > r.k THEN 1 ELSE 0 END) AS BIGINT)
           AS e_rich_directed
  FROM rich r
  JOIN edges e ON e.src = r.node
  JOIN deg db ON db.node = e.dst
  GROUP BY r.k
)
SELECT k, n_rich, e_rich_directed,
       CASE WHEN n_rich >= 2
            THEN e_rich_directed / CAST(n_rich * (n_rich - 1) AS DOUBLE)
            ELSE NULL END AS rich_club_phi
FROM rc
""")
def graph_rich_club_coefficient(spark, sf_dir):
    """RICH-CLUB COEFFICIENT sweep (Zhou & Mondragón 2004) of the LSH
    similarity graph: for each degree threshold k, phi(k) = density of
    the subgraph induced by nodes with degree > k — phi near 1 means
    the high-degree documents (template families) interlink into one
    boilerplate core (dedup them as a unit); low phi means independent
    hub clusters. Directed-edge counting over the materialized edge
    list joined to the degree table twice — each edge is examined once
    per threshold it survives (<= 8 thresholds), never all-pairs. Pure
    integer counting to one guarded division."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(minhash_signatures(
        char_shingles(d))).transform(materialize)
    edges = (symmetric_edges(cand)
             .transform(materialize))  # deg + edge sweep
    deg = (edges.groupBy("src")
           .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
           .transform(materialize))  # both join sides + rich sets
    ks = spark.range(1, 9).select(F.col("id").cast("bigint").alias("k"))
    rich = (ks.join(deg, deg.d > ks.k)
            .select("k", F.col("src").alias("node")))
    ed = edges.select(F.col("src").alias("esrc"),
                      F.col("dst").alias("edst"))
    db = deg.select(F.col("src").alias("_b"), F.col("d").alias("db"))
    rc = (rich.join(ed, rich.node == F.col("esrc"))
          .join(db, F.col("edst") == F.col("_b"))
          .groupBy("k")
          .agg(F.countDistinct("node").cast("bigint").alias("n_rich"),
               F.sum(F.when(F.col("db") > F.col("k"), 1).otherwise(0))
               .cast("bigint").alias("e_rich_directed")))
    return rc.select(
        "k", "n_rich", "e_rich_directed",
        F.when(F.col("n_rich") >= 2,
               F.col("e_rich_directed")
               / (F.col("n_rich") * (F.col("n_rich") - 1)).cast("double"))
        .alias("rich_club_phi"))


@query("drift_page_hinkley", f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {sql_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
),
stats AS (
  SELECT CAST(SUM(CAST(rev AS DECIMAL(30,8))) AS DOUBLE) AS total,
         COUNT(*) AS n
  FROM daily
),
m AS (
  SELECT day, rev,
         CAST(SUM(CAST(ROUND(rev - total / n, 6) AS DECIMAL(30,6)))
               OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS mt
  FROM daily CROSS JOIN stats
),
ph AS (
  SELECT day, rev, mt,
         mt - MIN(mt) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS ph
  FROM m
)
SELECT day, rev, mt, ph FROM ph
""")
def drift_page_hinkley(spark, sf_dir):
    """PAGE-HINKLEY upward-drift statistic on daily revenue (Page 1954;
    Hinkley 1971 — the sequential change detector streaming drift
    monitors like river/MOA implement): m_t = Σ (x_s - x̄), and
    PH_t = m_t - min_{s<=t} m_s measures how far the cumulative
    deviation has RISEN off its running floor — it alarms the moment an
    upward level shift begins, where cusum_change_point retrospectively
    locates the single best split. Same determinism recipe as CUSUM:
    exact decimal daily rollup, round-6 deviations (daily revenue
    magnitude) into an exact decimal running sum, then a running MIN
    and one subtraction of identical doubles. O(days) window work after
    the combinable rollup."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev"))
             .transform(materialize))  # stats + running sums
    stats = daily.agg(
        F.sum(F.col("rev").cast("decimal(30,8)")).cast("double")
        .alias("total"),
        F.count(F.lit(1)).alias("n"))
    dev = F.round(F.col("rev") - F.col("total") / F.col("n"), 6)
    wrun = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    m = (daily.crossJoin(F.broadcast(stats))
         .withColumn("mt", F.sum(dev.cast("decimal(30,6)")).over(wrun)
                     .cast("double")))
    return m.select("day", "rev", "mt",
                    (F.col("mt") - F.min("mt").over(wrun)).alias("ph"))


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth mover's) distance between two document halves
# ---------------------------------------------------------------------------

@query("drift_wasserstein_1d", """
WITH s AS (
  SELECT n_chars AS v, doc_id % 2 AS half FROM documents
),
tot AS (
  SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM s
),
byv AS (
  SELECT v,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM s GROUP BY v
),
cum AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_b,
         LEAD(v) OVER (ORDER BY v) AS v_next
  FROM byv
),
terms AS (
  SELECT CAST(ABS(cum_a * n_b - cum_b * n_a) AS DECIMAL(25,0))
           * CAST(v_next - v AS DECIMAL(12,0)) AS term
  FROM cum CROSS JOIN tot
  WHERE v_next IS NOT NULL
)
SELECT t.n_a, t.n_b,
       CAST(COALESCE(SUM(term), CAST(0 AS DECIMAL(38,0))) AS DOUBLE)
         / (CAST(t.n_a AS DOUBLE) * CAST(t.n_b AS DOUBLE)) AS w1_distance
FROM tot t LEFT JOIN terms ON TRUE
GROUP BY t.n_a, t.n_b
""")
def drift_wasserstein_1d(spark, sf_dir):
    """1-D WASSERSTEIN-1 (earth mover's) distance between the n_chars
    distributions of the two deterministic document halves — the drift
    metric that, unlike KS (sup-norm) or PSI (binned), integrates the
    FULL CDF gap in the units of the variable: W1 = integral
    |F_a - F_b| dv over the sorted support. Complements drift_ks /
    drift_psi_report in the monitoring family.

    EXACT integer formulation: on integer-valued scores,
    W1 * n_a * n_b = sum over support gaps of
    |cum_a*n_b - cum_b*n_a| * (v_next - v) — pure BIGINT cross products
    summed as exact decimals, divided back once (the decimal->double
    cast is correctly rounded in both engines). No rounding anywhere.
    Scale: one combinable per-value count + one window over the DISTINCT
    support (bounded by the value domain, not the corpus) — the same
    shape as the CDF pass inside drift_ks_statistic."""
    d = t(spark, sf_dir, "documents")
    s = d.select(F.col("n_chars").alias("v"),
                 (F.col("doc_id") % 2).alias("half"))
    tot = s.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_b"))
    byv = (s.groupBy("v")
           .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
                .cast("bigint").alias("ca"),
                F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
                .cast("bigint").alias("cb")))
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = byv.select(
        "v",
        F.sum("ca").over(wc).cast("bigint").alias("cum_a"),
        F.sum("cb").over(wc).cast("bigint").alias("cum_b"),
        F.lead("v").over(W.orderBy("v")).alias("v_next"))
    term = (F.abs(F.col("cum_a") * F.col("n_b")
                  - F.col("cum_b") * F.col("n_a")).cast("decimal(25,0)")
            * (F.col("v_next") - F.col("v")).cast("decimal(12,0)"))
    terms = (cum.crossJoin(F.broadcast(tot))
             .filter(F.col("v_next").isNotNull())
             .select(term.alias("term"), "n_a", "n_b"))
    return (terms.groupBy("n_a", "n_b")
            .agg((F.coalesce(F.sum("term"),
                             F.lit(0).cast("decimal(38,0)"))
                  .cast("double")
                  / (F.col("n_a").cast("double")
                     * F.col("n_b").cast("double")))
                 .alias("w1_distance")))


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test on the daily revenue ACF
# ---------------------------------------------------------------------------

_LB_LAGS = (1, 2, 3)


def _ljung_box_sql() -> str:
    legs = []
    for lag in _LB_LAGS:
        legs.append(f"""
SELECT {lag} AS lag, ROUND((n * sxy - sx * sy)
       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS acf
FROM (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(x, 4) AS DECIMAL(30,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 4) AS DECIMAL(30,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(30,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(y * y, 2) AS DECIMAL(30,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(ROUND(x * y, 2) AS DECIMAL(30,2))) AS DOUBLE) AS sxy
  FROM (SELECT rev AS x,
               LAG(rev, {lag}) OVER (ORDER BY day) AS y
        FROM daily)
  WHERE y IS NOT NULL
)""")
    return (f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {sql_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
acfs AS ({'UNION ALL'.join(legs)})
SELECT nn.n AS n_obs, CAST({len(_LB_LAGS)} AS BIGINT) AS df,
       nn.n * (nn.n + 2)
         * CAST(SUM(CAST(ROUND(acf * acf / (nn.n - lag), 9)
                         AS DECIMAL(20,9))) AS DOUBLE) AS q_stat
FROM acfs CROSS JOIN nn
GROUP BY nn.n
""")


@query("timeseries_ljung_box", _ljung_box_sql())
def timeseries_ljung_box(spark, sf_dir):
    """LJUNG-BOX portmanteau statistic (Ljung & Box 1978) over lags 1-3
    of the daily revenue series: Q = n(n+2) * sum_k acf_k^2/(n-k) — the
    is-there-ANY-autocorrelation gate run on forecast residuals before
    trusting a model (compare Q to the chi-square(df) critical value;
    the chi-square CDF itself is a special function, deliberately left
    to the consumer). Reuses the timeseries_acf moment recipe verbatim
    (round-4/round-2 fenced exact-decimal moments — products reach
    ~1e8); each acf_k is round-9, its square and the 1/(n-k) scaling
    are arithmetic on identical doubles re-fenced at round-9, decimal
    summed, and the n(n+2) factor is exact integer-derived double
    multiplication. One combinable rollup + three window legs over the
    tiny daily table."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev"))
             .transform(materialize))
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = W.orderBy("day")
    acfs = None
    for lag in _LB_LAGS:
        p = (daily.select(F.col("rev").alias("x"),
                          F.lag("rev", lag).over(w).alias("y"))
             .filter(F.col("y").isNotNull()))
        m = p.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("x"), 4).cast("decimal(30,4)"))
            .cast("double").alias("sx"),
            F.sum(F.round(F.col("y"), 4).cast("decimal(30,4)"))
            .cast("double").alias("sy"),
            F.sum(F.round(F.col("x") * F.col("x"), 2)
                  .cast("decimal(30,2)")).cast("double").alias("sxx"),
            F.sum(F.round(F.col("y") * F.col("y"), 2)
                  .cast("decimal(30,2)")).cast("double").alias("syy"),
            F.sum(F.round(F.col("x") * F.col("y"), 2)
                  .cast("decimal(30,2)")).cast("double").alias("sxy"))
        leg = m.select(
            F.lit(lag).alias("lag"),
            F.round((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / F.sqrt((F.col("n") * F.col("sxx")
                              - F.col("sx") * F.col("sx"))
                             * (F.col("n") * F.col("syy")
                                - F.col("sy") * F.col("sy"))), 9)
            .alias("acf"))
        acfs = leg if acfs is None else acfs.unionAll(leg)
    contrib = F.round(F.col("acf") * F.col("acf")
                      / (F.col("n") - F.col("lag")), 9)
    return (acfs.crossJoin(F.broadcast(nn))
            .groupBy("n")
            .agg((F.col("n") * (F.col("n") + 2)
                  * F.sum(contrib.cast("decimal(20,9)")).cast("double"))
                 .alias("q_stat"))
            .select(F.col("n").alias("n_obs"),
                    F.lit(len(_LB_LAGS)).cast("bigint").alias("df"),
                    "q_stat"))


# ---------------------------------------------------------------------------
# eigenvector centrality on the capped LSH similarity graph
# ---------------------------------------------------------------------------

_EIG_ITERS = 3


def _eig_centrality_sql() -> str:
    from arangodb_java_parquet_spark.queries.text_pipeline import (
        _MINHASH_SIG_SQL, capped_pairs_cte_sql)
    head = _MINHASH_SIG_SQL + capped_pairs_cte_sql(32, out="cand") + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand
),
v0 AS (SELECT DISTINCT src AS node, CAST(1 AS DOUBLE) AS v FROM edges)"""
    prev = "v0"
    iters = []
    for k in range(1, _EIG_ITERS + 1):
        iters.append(f"""
w{k} AS (
  SELECT e.src AS node,
         CAST(SUM(CAST(ROUND(p.v, 9) AS DECIMAL(30,9))) AS DOUBLE) AS w
  FROM edges e JOIN {prev} p ON p.node = e.dst
  GROUP BY e.src
),
m{k} AS (SELECT MAX(ABS(w)) AS m FROM w{k}),
v{k} AS (SELECT node, ROUND(w / m, 9) AS v FROM w{k} CROSS JOIN m{k})""")
        prev = f"v{k}"
    return (head + "," + ",".join(iters)
            + f"\nSELECT node, v AS centrality FROM {prev}")


@query("graph_eigenvector_centrality", _eig_centrality_sql())
def graph_eigenvector_centrality(spark, sf_dir):
    """EIGENVECTOR CENTRALITY (Bonacich 1987) on the skew-capped LSH
    similarity graph: 3 unrolled power iterations v <- A·v / max|A·v| —
    the influence score where a node matters because its NEIGHBORS
    matter, separating the hub of a near-dup mega-cluster from
    incidentally-connected periphery (degree can't). Same determinism
    recipe as the PCA power iteration: per-edge terms are round-9
    neighbor values summed as exact decimals, the max-abs normalizer is
    exact, the division IEEE-identical, and each iteration re-fences at
    round-9. Input is the CAPPED candidate graph (the r12 default for
    pre-dedup graph diagnostics, SKEW_PROBE.md); each iteration is one
    edges-by-dst join + one combinable groupBy — O(E) per round, plan
    depth fixed by the iteration count."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = lsh_candidate_pairs_capped(minhash_signatures(sh), max_bucket=32)
    edges = (symmetric_edges(cand)
             .transform(materialize))  # feeds every iteration
    v = (edges.select(F.col("src").alias("node")).distinct()
         .withColumn("v", F.lit(1).cast("double")))
    for _ in range(_EIG_ITERS):
        w = (edges.join(v.withColumnRenamed("node", "dst"), "dst")
             .groupBy(F.col("src").alias("node"))
             .agg(F.sum(F.round(F.col("v"), 9).cast("decimal(30,9)"))
                  .cast("double").alias("w"))
             .transform(materialize, "iter"))  # normalizer + next iter
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (w.crossJoin(F.broadcast(m))
             .select("node", F.round(F.col("w") / F.col("m"), 9)
                     .alias("v")))
    return v.select("node", F.col("v").alias("centrality"))


# ---------------------------------------------------------------------------
# Theil inequality indices over customer revenue (round 12)
# ---------------------------------------------------------------------------

@query("inequality_theil_index", """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS rev
  FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(rev AS DECIMAL(30,8))) AS DOUBLE) AS s
  FROM cust
),
terms AS (
  SELECT n, s,
         ROUND((rev * n / s)
               * ROUND(LN(rev * n / s), 9), 9) AS t_term,
         ROUND(LN(s / (rev * n)), 9) AS l_term
  FROM cust CROSS JOIN tot
)
SELECT MAX(n) AS n_customers,
       CAST(SUM(CAST(t_term AS DECIMAL(20,9))) AS DOUBLE) / MAX(n)
         AS theil_t,
       CAST(SUM(CAST(l_term AS DECIMAL(20,9))) AS DOUBLE) / MAX(n)
         AS theil_l
FROM terms GROUP BY n
""")
def inequality_theil_index(spark, sf_dir):
    """THEIL INEQUALITY INDICES (Theil 1967) over per-customer revenue:
    T = mean(r ln r) and L = mean(ln 1/r) with r = x/mean — the
    entropy-based inequality family beside the rank-based Gini
    (gini_revenue_concentration): T and L DECOMPOSE additively across
    subgroups (between + within), which Gini does not, making them the
    right concentration metric when a pipeline needs per-source
    drill-down that sums back to the corpus number. Determinism:
    per-customer revenue is an exact decimal sum; r = x*n/s is one
    identically-shaped double expression; ln is round-9 fenced, the
    r*ln(r) product re-fenced, both series decimal-summed and divided
    once (every customer has rev > 0, so ln is total). One combinable
    rollup + one broadcast total — O(rows), no sort (unlike Gini's
    global rank)."""
    o = t(spark, sf_dir, "orders")
    cust = (o.groupBy("o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                 .cast("double").alias("rev")))
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rev").cast("decimal(30,8)")).cast("double")
        .alias("s"))
    r = F.col("rev") * F.col("n") / F.col("s")
    terms = (cust.crossJoin(F.broadcast(tot))
             .select("n",
                     F.round(r * F.round(F.log(r), 9), 9).alias("t_term"),
                     F.round(F.log(F.col("s")
                                   / (F.col("rev") * F.col("n"))), 9)
                     .alias("l_term")))
    return (terms.groupBy("n")
            .agg((F.sum(F.col("t_term").cast("decimal(20,9)"))
                  .cast("double") / F.max("n")).alias("theil_t"),
                 (F.sum(F.col("l_term").cast("decimal(20,9)"))
                  .cast("double") / F.max("n")).alias("theil_l"))
            .select(F.col("n").alias("n_customers"),
                    "theil_t", "theil_l"))


@query("inequality_atkinson_index", """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS rev
  FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(rev AS DECIMAL(30,8))) AS DOUBLE) AS s
  FROM cust
),
terms AS (
  SELECT n,
         ROUND(LN(rev * n / s), 9) AS ln_r,
         ROUND(s / (rev * n), 9) AS inv_r
  FROM cust CROSS JOIN tot
),
agg AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST(ln_r AS DECIMAL(20,9))) AS DOUBLE) AS s_ln,
         CAST(SUM(CAST(inv_r AS DECIMAL(20,9))) AS DOUBLE) AS s_inv
  FROM terms GROUP BY n
)
SELECT n AS n_customers,
       1 - ROUND(exp(s_ln / n), 9) AS atkinson_e1,
       1 - n / s_inv AS atkinson_e2
FROM agg
""")
def inequality_atkinson_index(spark, sf_dir):
    """ATKINSON INEQUALITY INDICES (Atkinson 1970) over per-customer
    revenue at the two canonical aversion levels: A(1) = 1 -
    geomean/mean (one minus the exp of the mean log share — note
    A(1) = 1 - exp(-Theil_L), the cross-check against the Theil entry)
    and A(2) = 1 - harmonic_mean/mean — unlike Gini/Theil, Atkinson
    carries an explicit WELFARE reading ("society would give up A% of
    total revenue for perfect equality") and its aversion parameter
    weights the poor tail progressively harder, which is why
    concentration audits quote A(1)/A(2) beside Gini. Shares r = x*n/s
    ride the exact decimal revenue sums; ln r and 1/r are round-9
    fenced into exact decimal sums; A(1)'s exp is round-9 of an
    already-identical rational (the piloted exp rule) and A(2) is one
    IEEE division. Same single-rollup + broadcast-total shape as
    Theil — O(rows), no global sort."""
    o = t(spark, sf_dir, "orders")
    cust = (o.groupBy("o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(30,8)"))
                 .cast("double").alias("rev")))
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rev").cast("decimal(30,8)")).cast("double")
        .alias("s"))
    r = F.col("rev") * F.col("n") / F.col("s")
    # 1/r is computed as s/(rev*n) — ONE division, the identical
    # expression shape as the oracle (1.0/(rev*n/s) would round twice)
    terms = (cust.crossJoin(F.broadcast(tot))
             .select("n",
                     F.round(F.log(r), 9).alias("ln_r"),
                     F.round(F.col("s") / (F.col("rev") * F.col("n")), 9)
                     .alias("inv_r")))
    agg = (terms.groupBy("n")
           .agg(F.sum(F.col("ln_r").cast("decimal(20,9)")).cast("double")
                .alias("s_ln"),
                F.sum(F.col("inv_r").cast("decimal(20,9)")).cast("double")
                .alias("s_inv")))
    return agg.select(
        F.col("n").alias("n_customers"),
        (1 - F.round(F.exp(F.col("s_ln") / F.col("n")), 9))
        .alias("atkinson_e1"),
        (1 - F.col("n") / F.col("s_inv")).alias("atkinson_e2"))


# ---------------------------------------------------------------------------
# Katz centrality on the capped LSH similarity graph (round 13)
# ---------------------------------------------------------------------------

_KATZ_ITERS = 3


def _katz_sql() -> str:
    from arangodb_java_parquet_spark.queries.text_pipeline import (
        _MINHASH_SIG_SQL, capped_pairs_cte_sql)
    head = _MINHASH_SIG_SQL + capped_pairs_cte_sql(32, out="cand") + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand
),
x0 AS (SELECT DISTINCT src AS node, CAST(1 AS DOUBLE) AS x FROM edges)"""
    prev = "x0"
    iters = []
    for k in range(1, _KATZ_ITERS + 1):
        iters.append(f"""
x{k} AS (
  SELECT e.src AS node,
         1 + CAST(SUM(CAST(ROUND(p.x, 9) AS DECIMAL(30,9))) AS DOUBLE)
               / 8 AS x
  FROM edges e JOIN {prev} p ON p.node = e.dst
  GROUP BY e.src
)""")
        prev = f"x{k}"
    return (head + "," + ",".join(iters)
            + f"\nSELECT node, x - 1 AS katz FROM {prev}")


@query("graph_katz_centrality", _katz_sql())
def graph_katz_centrality(spark, sf_dir):
    """KATZ CENTRALITY (Katz 1953) on the skew-capped LSH similarity
    graph: x = sum over path lengths k of alpha^k (A^k 1), computed by
    3 unrolled rounds of the recurrence x <- 1 + alpha A x with
    attenuation alpha = 1/8 — EXACT BINARY, so the alpha scaling is a
    lossless halving chain — emitted as x - 1 (the pure attenuated
    path-count series). Unlike eigenvector centrality (beside it,
    same graph), Katz stays finite and meaningful on the DISCONNECTED
    component soup a pre-dedup similarity graph actually is: isolated
    small components get comparable scores instead of collapsing to
    the dominant component's eigenvector. Per-round terms are round-9
    neighbor values in exact decimal sums; each round is one
    edges-by-dst join + combinable groupBy over the capped graph —
    O(E) per round, the eigenvector/HITS scale recipe."""
    from arangodb_java_parquet_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs_capped, minhash_signatures)
    d = t(spark, sf_dir, "documents")
    sh = char_shingles(d)
    cand = lsh_candidate_pairs_capped(minhash_signatures(sh), max_bucket=32)
    edges = (symmetric_edges(cand)
             .transform(materialize))  # feeds every iteration
    x = (edges.select(F.col("src").alias("node")).distinct()
         .withColumn("x", F.lit(1).cast("double")))
    for _ in range(_KATZ_ITERS):
        x = (edges.join(x.withColumnRenamed("node", "dst"), "dst")
             .groupBy(F.col("src").alias("node"))
             .agg((1 + F.sum(F.round(F.col("x"), 9).cast("decimal(30,9)"))
                   .cast("double") / 8).alias("x"))
             .transform(materialize, "iter"))
    return x.select("node", (F.col("x") - 1).alias("katz"))
