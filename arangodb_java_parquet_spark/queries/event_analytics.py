"""Event-analytics patterns over the events table: date-spine gap filling
with LOCF, cumulative distinct users, cohort retention, ordered funnels.
The standard product-analytics workloads a 100 TB event lake serves — each
expressed as one declarative plan (no driver loops, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.queries.common import (davg, dsum, query,
                                                        sql_davg, sql_dsum, t)


@query("timeseries_gap_fill", f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         {sql_dsum('value')} AS day_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
spine AS (
  SELECT CAST(UNNEST(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
),
joined AS (
  SELECT s.day, d.day_value FROM spine s LEFT JOIN daily d ON s.day = d.day
)
SELECT day, day_value,
       COALESCE(day_value,
                LAST_VALUE(day_value IGNORE NULLS)
                  OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING)) AS filled_value
FROM joined
""")
def timeseries_gap_fill(spark, sf_dir):
    """Date-spine gap filling with last-observation-carried-forward:
    generate the full calendar (sequence), left-join daily aggregates,
    fill gaps via last(ignorenulls) over the preceding frame. The spine is
    tiny and broadcast; the heavy side aggregates before joining."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = (e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(dsum("value").alias("day_value")))
    spine = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30',"
        " INTERVAL 1 DAY)) AS day")
    joined = spine.join(daily, "day", "left")
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    return joined.select(
        "day", "day_value",
        F.coalesce(F.col("day_value"),
                   F.last("day_value", ignorenulls=True).over(w))
        .alias("filled_value"))


@query("cumulative_distinct_users", """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
per_day AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM first_seen GROUP BY 1
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
FROM per_day
""")
def cumulative_distinct_users(spark, sf_dir):
    """Running distinct-user count via first-seen dates: distinct per user
    once, then a cumulative sum over days — O(users) state instead of the
    naive per-day distinct-over-growing-window (which rescans history)."""
    e = t(spark, sf_dir, "events")
    first_seen = (e.groupBy("user_id")
                  .agg(F.min(F.date_trunc("day", "ts").cast("date"))
                       .alias("first_day")))
    per_day = (first_seen.groupBy(F.col("first_day").alias("day"))
               .agg(F.count(F.lit(1)).alias("new_users")))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return per_day.select(
        "day", "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"))


@query("cohort_retention", """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_day,
         date_diff('day', f.cohort_day, CAST(date_trunc('day', e.ts) AS DATE))
           AS day_offset
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
       COUNT(*) AS active_users
FROM activity
WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
""")
def cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day, counted
    on each subsequent activity-day offset (first week). The first_seen
    dim is small (per-user) and broadcast back onto events."""
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    first_seen = (e.groupBy("user_id")
                  .agg(F.min(day).alias("cohort_day")))
    activity = (e.join(F.broadcast(first_seen), "user_id")
                .select("user_id", "cohort_day",
                        F.datediff(day, F.col("cohort_day"))
                        .alias("day_offset"))
                .distinct())
    return (activity.filter(F.col("day_offset") <= 7)
            .groupBy("cohort_day", "day_offset")
            .agg(F.count(F.lit(1)).alias("active_users")))


@query("funnel_conversion", """
WITH stage_times AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS viewed,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
FROM stage_times
""")
def funnel_conversion(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): per-user first-touch
    times via conditional MIN, then ordered-stage counting — one shuffle on
    user_id, no self-joins (the naive N-way event self-join explodes at
    scale; conditional aggregation doesn't)."""
    e = t(spark, sf_dir, "events")

    def first_time(etype):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    stages = (e.groupBy("user_id")
              .agg(first_time("view").alias("t_view"),
                   first_time("click").alias("t_click"),
                   first_time("purchase").alias("t_purchase")))
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).alias("viewed"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("clicked_after_view"),
        F.sum(F.when(purchased, 1).otherwise(0))
        .alias("purchased_after_click"))


_CASCADE_SQL = f"""
SELECT date_trunc('day', ts) AS day, event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("rollup_cascade_daily", _CASCADE_SQL)
def rollup_cascade_daily(spark, sf_dir):
    """Hypertable-style cascading rollup (continuous-aggregate pattern):
    the DAILY aggregate is computed FROM the HOURLY partials — counts sum,
    and the hourly money sums stay DECIMAL until the final cast so the
    cascade is lossless — never from raw events. The oracle aggregates the
    raw table directly; hash-equality proves partial reuse is exact, which
    is what lets a 100 TB pipeline maintain day/week/month levels by
    re-reading only the much smaller next-finer level. Decomposable-agg
    counterpart of the streaming windowed entries."""
    e = t(spark, sf_dir, "events")
    hourly = (e.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                        "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(30,8)"))
                   .alias("sum_dec")))
    return (hourly.groupBy(F.date_trunc("day", "hour").cast("date")
                           .alias("day"),
                           "event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 F.sum("sum_dec").cast("double").alias("sum_value")))


_WAU_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events
),
contrib AS (
  SELECT UNNEST(range(day, day + INTERVAL 7 DAY, INTERVAL 1 DAY))::DATE
           AS target_day,
         user_id
  FROM daily
)
SELECT target_day, COUNT(DISTINCT user_id) AS wau
FROM contrib
GROUP BY target_day
"""


@query("rolling_wau_distinct", _WAU_SQL)
def rolling_wau_distinct(spark, sf_dir):
    """Rolling 7-day distinct active users (WAU) — the rolling-DISTINCT
    aggregate SQL window frames cannot express (COUNT(DISTINCT) OVER a
    moving frame is unsupported everywhere): each active (user, day) pair
    is EXPLODED onto the 7 window end-days it contributes to, then a
    plain distinct count per target day finishes it. The explode fans out
    only the deduplicated (user, day) pairs — 7x a small set, not 7x the
    raw events — and both stages are shuffle-combinable; this is the
    pattern that scales to billions of events where a naive per-day
    re-scan of a week of raw data would not."""
    e = t(spark, sf_dir, "events")
    daily = (e.select(F.date_trunc("day", "ts").cast("date").alias("day"),
                      "user_id").distinct())
    contrib = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6)))
        .alias("target_day"),
        "user_id")
    return (contrib.groupBy("target_day")
            .agg(F.countDistinct("user_id").alias("wau")))


# ---------------------------------------------------------------------------
# sequence mining: Markov transitions and co-occurrence PMI
# ---------------------------------------------------------------------------

@query("markov_event_transitions", """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM trans GROUP BY 1)
SELECT from_type, to_type, n, n_from,
       n / CAST(n_from AS DOUBLE) AS prob
FROM trans JOIN tot USING (from_type)
""")
def markov_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence (LEAD window per user, then two combinable counts) — the
    sequence-mining primitive behind next-action prediction and anomalous-
    flow detection. Per-user windows keep frame state one user wide; the
    transition matrix is |event_type|^2, report-sized at any corpus
    scale."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type",
                   F.lead("event_type").over(w).alias("next_type"))
    trans = (seq.filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count(F.lit(1)).alias("n")))
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (trans.join(tot, "from_type")
            .select("from_type", "to_type", "n", "n_from",
                    (F.col("n") / F.col("n_from").cast("double"))
                    .alias("prob")))


@query("event_pmi_pairs", """
WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
cnt AS (SELECT event_type, COUNT(*) AS c FROM ue GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS c_ab
  FROM ue a JOIN ue b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, c_ab, ca.c AS c_a, cb.c AS c_b,
       ROUND(LN((c_ab * CAST(n_users AS DOUBLE))
                / (ca.c * CAST(cb.c AS DOUBLE))), 9) AS pmi
FROM pairs
JOIN cnt ca ON ca.event_type = type_a
JOIN cnt cb ON cb.event_type = type_b
CROSS JOIN n
""")
def event_pmi_pairs(spark, sf_dir):
    """Pointwise mutual information between event types co-occurring in
    the same user's history: PMI = ln(P(a,b) / (P(a)P(b))) over distinct
    (user, type) incidence. The incidence self-join is keyed on user_id
    (bounded by each user's distinct types, typically < 10) — never an
    event-level cross join; marginals are |event_type|-sized and
    broadcast."""
    e = t(spark, sf_dir, "events")
    # incidence feeds the self-join's two sides + the marginals, and the
    # marginal table feeds both pair sides — materialize each once
    # (non-canonicalizing self-join lineage; the r10/r11 checkpoint
    # pattern)
    ue = (e.select("user_id", "event_type").distinct()
          .transform(materialize))
    n_users = e.agg(F.countDistinct("user_id").alias("n_users"))
    cnt = (ue.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
           .transform(materialize))
    a, b = ue.alias("a"), ue.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.count(F.lit(1)).alias("c_ab")))
    ca = cnt.select(F.col("event_type").alias("type_a"),
                    F.col("c").alias("c_a"))
    cb = cnt.select(F.col("event_type").alias("type_b"),
                    F.col("c").alias("c_b"))
    pmi = F.round(F.log((F.col("c_ab") * F.col("n_users").cast("double"))
                        / (F.col("c_a") * F.col("c_b").cast("double"))), 9)
    return (pairs.join(F.broadcast(ca), "type_a")
            .join(F.broadcast(cb), "type_b")
            .crossJoin(F.broadcast(n_users))
            .select("type_a", "type_b", "c_ab", "c_a", "c_b",
                    pmi.alias("pmi")))


@query("time_to_convert_stats", """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events
  GROUP BY user_id
)
SELECT user_id, first_click, first_purchase,
       epoch_us(CAST(first_purchase AS TIMESTAMP))
         - epoch_us(CAST(first_click AS TIMESTAMP)) AS delta_us
FROM firsts
WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
  AND first_purchase >= first_click
""")
def time_to_convert_stats(spark, sf_dir):
    """Time-to-convert per user: first click -> first purchase, as an
    EXACT integer microsecond delta (unix_micros, no float time math).
    One conditional-MIN aggregation keyed by user — combinable, one
    shuffle; the funnel-latency input for p50/p90 conversion SLAs."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("first_purchase"))
    delta = (F.unix_micros(F.col("first_purchase").cast("timestamp"))
             - F.unix_micros(F.col("first_click").cast("timestamp")))
    return (firsts
            .filter(F.col("first_click").isNotNull()
                    & F.col("first_purchase").isNotNull()
                    & (F.col("first_purchase") >= F.col("first_click")))
            .select("user_id", "first_click", "first_purchase",
                    delta.alias("delta_us")))


@query("daily_revenue_growth", f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         {sql_dsum('value')} AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)
SELECT day, revenue,
       LAG(revenue) OVER (ORDER BY day) AS prev_revenue,
       ROUND((revenue - LAG(revenue) OVER (ORDER BY day))
             / LAG(revenue) OVER (ORDER BY day), 9) AS dod_growth
FROM daily
""")
def daily_revenue_growth(spark, sf_dir):
    """Period-over-period growth: exact-decimal daily revenue, then LAG
    and a round-9 relative delta — the canonical KPI window. The window
    is over the DAY-level aggregate (365 rows/year regardless of event
    volume), so the unpartitioned ordering is report-sized by
    construction."""
    e = t(spark, sf_dir, "events")
    daily = (e.filter(F.col("event_type") == "purchase")
             .groupBy(F.to_date(F.date_trunc("day", F.col("ts")))
                      .alias("day"))
             .agg(dsum("value").alias("revenue")))
    w = W.orderBy("day")
    prev = F.lag("revenue").over(w)
    return daily.select(
        "day", "revenue", prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev, 9).alias("dod_growth"))


@query("anomaly_seasonal_baseline", f"""
WITH base AS (
  SELECT CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         COUNT(*) AS n_events,
         ROUND({sql_davg('value')}, 9) AS baseline
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT b.dow, b.hour, b.n_events, b.baseline,
       CAST(SUM(CASE WHEN e.value > 3.0 * b.baseline THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies
FROM base b
JOIN events e
  ON e.event_type = 'purchase'
 AND CAST(EXTRACT(dow FROM e.ts) AS INT) = b.dow
 AND CAST(EXTRACT(hour FROM e.ts) AS INT) = b.hour
GROUP BY 1, 2, 3, 4
""")
def anomaly_seasonal_baseline(spark, sf_dir):
    """Seasonal anomaly detection: a (day-of-week × hour) baseline grid
    (exact-decimal means, 168 cells max) joined back BROADCAST onto the
    event stream to flag values above 3× their seasonal norm — the
    calendar-aware upgrade of global z-scoring (a Monday-9am spike is
    normal; the same volume at 3am is not). Two passes over events, one
    combinable agg each; the baseline never shuffles the facts."""
    e = (t(spark, sf_dir, "events")
         .filter(F.col("event_type") == "purchase"))
    dow = F.dayofweek(F.col("ts")) - 1  # Spark 1=Sunday -> 0-based like DuckDB
    hour = F.hour(F.col("ts"))
    base = (e.groupBy(dow.cast("int").alias("dow"),
                      hour.cast("int").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(davg("value"), 9).alias("baseline")))
    ev = e.select(dow.cast("int").alias("dow"),
                  hour.cast("int").alias("hour"), "value")
    return (ev.join(F.broadcast(base), ["dow", "hour"])
            .groupBy("dow", "hour", "n_events", "baseline")
            .agg(F.sum(F.when(F.col("value") > 3.0 * F.col("baseline"), 1)
                       .otherwise(0)).alias("n_anomalies")))


_ETYPES = ("click", "error", "purchase", "signup", "view")


@query("user_behavior_vector", """
WITH counts AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS c4
  FROM events GROUP BY user_id
)
SELECT user_id,
       array_to_string([c0, c1, c2, c3, c4], ',') AS behavior_vec,
       CAST(c0 + c1 + c2 + c3 + c4 AS BIGINT) AS n_events,
       ROUND(sqrt(CAST(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 AS DOUBLE)), 9)
         AS l2_norm
FROM counts
""")
def user_behavior_vector(spark, sf_dir):
    """Behavioral feature engineering: each user's event history reduced
    to a fixed-order count vector (one conditional-sum aggregation — the
    map-side-combinable way to build feature vectors, vs a pivot+join) +
    its L2 norm, ready for the similarity/clustering operators upstream.
    Integer vectors are engine-exact; only the norm needs round-9. The
    vector is emitted comma-joined (the external driver's canonicalizer
    cannot hash top-level ARRAY columns)."""
    e = t(spark, sf_dir, "events")
    cs = [F.sum(F.when(F.col("event_type") == et, 1).otherwise(0))
          .alias(f"c{i}") for i, et in enumerate(_ETYPES)]
    counts = e.groupBy("user_id").agg(*cs)
    cols = [F.col(f"c{i}") for i in range(len(_ETYPES))]
    sq = cols[0] * cols[0]
    for c in cols[1:]:
        sq = sq + c * c
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    return counts.select(
        "user_id",
        F.array_join(F.array(*cols).cast("array<string>"), ",")
        .alias("behavior_vec"),
        total.cast("bigint").alias("n_events"),
        F.round(F.sqrt(sq.cast("double")), 9).alias("l2_norm"))


@query("revenue_max_drawdown", f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         {sql_dsum('value')} AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
peaks AS (
  SELECT day, revenue,
         CAST(MAX(CAST(revenue AS DECIMAL(30,8))) OVER (
           ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           AS running_peak
  FROM daily
)
SELECT day, revenue, running_peak,
       ROUND((running_peak - revenue) / running_peak, 9) AS drawdown
FROM peaks
""")
def revenue_max_drawdown(spark, sf_dir):
    """Running-peak drawdown of the daily revenue series — the
    degradation monitor (how far below the best-ever day are we?): one
    exact-decimal daily aggregate, a cumulative MAX window over the
    DAY-level table, and a round-9 relative gap. Report-sized window
    input by construction."""
    e = t(spark, sf_dir, "events")
    daily = (e.filter(F.col("event_type") == "purchase")
             .groupBy(F.to_date(F.date_trunc("day", F.col("ts")))
                      .alias("day"))
             .agg(dsum("value").alias("revenue")))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    peak = F.max(F.col("revenue").cast("decimal(30,8)")).over(w) \
        .cast("double")
    return (daily.withColumn("running_peak", peak)
            .select("day", "revenue", "running_peak",
                    F.round((F.col("running_peak") - F.col("revenue"))
                            / F.col("running_peak"), 9).alias("drawdown")))


@query("error_rate_sla_hourly", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_errors,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS error_rate,
       CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) > 0.25
            THEN 1 ELSE 0 END AS sla_breach
FROM events
GROUP BY 1
""")
def error_rate_sla_hourly(spark, sf_dir):
    """Operational SLA monitor: hourly error share with a breach flag —
    one combinable conditional-count aggregation over the event-time
    bucket; the alerting query every ingest pipeline runs beside its
    business load. The same expression runs over stream_table for a live
    monitor (stream_windowed_counts shows the drive)."""
    e = t(spark, sf_dir, "events")
    errs = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    rate = F.round(errs / F.count(F.lit(1)).cast("double"), 9)
    return (e.groupBy(F.window("ts", "1 hour").start.alias("hour_start"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 errs.alias("n_errors"),
                 rate.alias("error_rate"),
                 F.when(errs / F.count(F.lit(1)).cast("double") > 0.25, 1)
                 .otherwise(0).alias("sla_breach")))


@query("user_survival_curve", """
WITH lifetime AS (
  SELECT user_id,
         (epoch_us(CAST(MAX(ts) AS TIMESTAMP))
          - epoch_us(CAST(MIN(ts) AS TIMESTAMP))) // 86400000000
           AS lifetime_days
  FROM events GROUP BY user_id
),
n AS (SELECT COUNT(*) AS n_users FROM lifetime)
SELECT t.day AS day_t,
       CAST(SUM(CASE WHEN lifetime_days >= t.day THEN 1 ELSE 0 END)
            AS BIGINT) AS n_surviving,
       ROUND(SUM(CASE WHEN lifetime_days >= t.day THEN 1 ELSE 0 END)
             / CAST(n.n_users AS DOUBLE), 9) AS survival_frac
FROM lifetime
CROSS JOIN (SELECT UNNEST([1, 3, 7, 14, 21, 28]) AS day) t
CROSS JOIN n
GROUP BY t.day, n.n_users
""")
def user_survival_curve(spark, sf_dir):
    """Survival curve (Kaplan-Meier-lite, no censoring at test scale):
    the fraction of users still active t days after their first event,
    evaluated at fixed horizons — retention's cousin, framed as lifetime
    >= t. One per-user min/max aggregation, then a 6-row horizon table
    broadcast across the user lifetimes; exact integer day arithmetic."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    life = (e.groupBy("user_id")
            .agg(F.min(us).alias("first_us"), F.max(us).alias("last_us"))
            .select("user_id",
                    F.expr("(last_us - first_us) div 86400000000")
                    .alias("lifetime_days")))
    # user count as a LAZY broadcast scalar: the eager life.count() at
    # construction time re-ran the whole per-user lifetime aggregation
    # as a separate sequential job before the real one (r15)
    nu = life.agg(F.count(F.lit(1)).alias("__n"))
    horizons = spark.createDataFrame(
        [(d,) for d in (1, 3, 7, 14, 21, 28)], "day_t LONG")
    return (life.crossJoin(F.broadcast(horizons))
            .groupBy("day_t")
            .agg(F.sum(F.when(F.col("lifetime_days") >= F.col("day_t"), 1)
                       .otherwise(0)).alias("n_surviving"))
            .crossJoin(F.broadcast(nu))
            .select("day_t", "n_surviving",
                    F.round(F.col("n_surviving")
                            / F.col("__n").cast("double"),
                            9).alias("survival_frac")))


@query("ab_test_conversion_lift", """
WITH assigned AS (
  SELECT user_id, user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150.0
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT variant, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted,
         SUM(converted) / CAST(COUNT(*) AS DOUBLE) AS p
  FROM assigned GROUP BY variant
),
wide AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
         MAX(CASE WHEN variant = 0 THEN n_converted END) AS c0,
         MAX(CASE WHEN variant = 0 THEN p END) AS p0,
         MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
         MAX(CASE WHEN variant = 1 THEN n_converted END) AS c1,
         MAX(CASE WHEN variant = 1 THEN p END) AS p1
  FROM arms
)
SELECT n0, c0, ROUND(p0, 9) AS p_control,
       n1, c1, ROUND(p1, 9) AS p_treatment,
       ROUND(p1 - p0, 9) AS abs_lift,
       ROUND((p1 - p0)
             / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)), 9) AS z_stat
FROM wide
""")
def ab_test_conversion_lift(spark, sf_dir):
    """Experimentation analytics: two-proportion conversion lift with the
    pooled z-statistic, computed entirely from exact integer counts (the
    deterministic assignment here is user parity and "conversion" is a
    high-value purchase — every user has SOME purchase in this synthetic
    month, which would degenerate the pooled variance to zero; production
    swaps in the experiment table). One per-user conditional-max, one 2-row arm
    aggregate, then pure scalar arithmetic — the A/B readout every
    product pipeline ships; round-9 only on the final derived ratios."""
    e = t(spark, sf_dir, "events")
    assigned = (e.groupBy("user_id")
                .agg(F.max(F.when((F.col("event_type") == "purchase")
                             & (F.col("value") > 150.0), 1)
                           .otherwise(0)).alias("converted"))
                .withColumn("variant", F.col("user_id") % 2))
    arms = (assigned.groupBy("variant")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("converted").alias("n_converted"),
                 (F.sum("converted") / F.count(F.lit(1)).cast("double"))
                 .alias("p")))
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted")))
        .alias("c0"),
        F.max(F.when(F.col("variant") == 0, F.col("p"))).alias("p0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted")))
        .alias("c1"),
        F.max(F.when(F.col("variant") == 1, F.col("p"))).alias("p1"))
    pooled = (F.col("c0") + F.col("c1")) \
        / (F.col("n0") + F.col("n1")).cast("double")
    z = (F.col("p1") - F.col("p0")) / F.sqrt(
        pooled * (1.0 - pooled)
        * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return wide.select(
        "n0", "c0", F.round("p0", 9).alias("p_control"),
        "n1", "c1", F.round("p1", 9).alias("p_treatment"),
        F.round(F.col("p1") - F.col("p0"), 9).alias("abs_lift"),
        F.round(z, 9).alias("z_stat"))


@query("cart_abandonment_daily", """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, is_purchase, is_click,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
per_session AS (
  SELECT user_id, sid,
         CAST(MIN(ts) AS DATE) AS day,
         MAX(is_click) AS had_click,
         MAX(is_purchase) AS had_purchase
  FROM sess GROUP BY user_id, sid
)
SELECT day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN had_click = 1 AND had_purchase = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
       ROUND(SUM(CASE WHEN had_click = 1 AND had_purchase = 0
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS abandonment_rate
FROM per_session
GROUP BY day
""")
def cart_abandonment_daily(spark, sf_dir):
    """Cart-abandonment rate per day: sessionize (30-min gap), classify
    each session by clicked-but-never-purchased, roll up daily — the
    funnel-health KPI built by composing the verified sessionizer with
    two combinable aggregations. All windows partition by user; the
    session table is the only shuffle beyond them."""
    from arangodb_java_parquet_spark.operators.temporal import sessionize
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                          "event_type")
    s = sessionize(e, key="user_id", time="ts", gap=F.lit(1800.0),
                   tiebreak=["event_id"])
    per_session = (s.groupBy("user_id", "session_seq")
                   .agg(F.to_date(F.min("ts")).alias("day"),
                        F.max(F.when(F.col("event_type") == "click", 1)
                              .otherwise(0)).alias("had_click"),
                        F.max(F.when(F.col("event_type") == "purchase", 1)
                              .otherwise(0)).alias("had_purchase")))
    abandoned = F.sum(F.when((F.col("had_click") == 1)
                             & (F.col("had_purchase") == 0), 1)
                      .otherwise(0))
    return (per_session.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 abandoned.alias("n_abandoned"),
                 F.round(abandoned / F.count(F.lit(1)).cast("double"), 9)
                 .alias("abandonment_rate")))


@query("power_users_captured_share", """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS user_value
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS rnk,
         COUNT(*) OVER () AS n_users
  FROM per_user
)
SELECT CAST(SUM(CASE WHEN rnk <= CAST(CEIL(n_users * 0.1) AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_power_users,
       CAST(SUM(CASE WHEN rnk <= CAST(CEIL(n_users * 0.1) AS BIGINT)
                     THEN n_events ELSE 0 END) AS BIGINT)
         AS power_events,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       ROUND(SUM(CASE WHEN rnk <= CAST(CEIL(n_users * 0.1) AS BIGINT)
                      THEN n_events ELSE 0 END)
             / CAST(SUM(n_events) AS DOUBLE), 9) AS power_share
FROM ranked
""")
def power_users_captured_share(spark, sf_dir):
    """Power-user concentration: what share of all activity does the top
    10% of users (by event count) generate — the engagement analog of
    the Pareto revenue share, and the number that decides whether
    per-user rate limits or per-user sampling caps matter at all.
    Ranking runs over the user-level aggregate; integer event counts
    make the share exact up to one round-9."""
    e = t(spark, sf_dir, "events")
    per_user = (e.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col("value").cast("decimal(30,8)"))
                     .cast("double").alias("user_value")))
    w = W.orderBy(F.desc("n_events"), "user_id")
    w_all = W.partitionBy()
    ranked = (per_user
              .withColumn("rnk", F.row_number().over(w))
              .withColumn("n_users", F.count(F.lit(1)).over(w_all)))
    is_power = F.col("rnk") <= F.ceil(F.col("n_users") * 0.1).cast("long")
    power_events = F.sum(F.when(is_power, F.col("n_events")).otherwise(0))
    return ranked.agg(
        F.sum(F.when(is_power, 1).otherwise(0)).alias("n_power_users"),
        power_events.cast("bigint").alias("power_events"),
        F.sum("n_events").alias("total_events"),
        F.round(power_events / F.sum("n_events").cast("double"), 9)
        .alias("power_share"))


@query("dau_over_active_users", """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
),
tot AS (SELECT COUNT(DISTINCT user_id) AS mau FROM events)
SELECT day, dau, tot.mau,
       ROUND(dau / CAST(tot.mau AS DOUBLE), 9) AS stickiness
FROM daily CROSS JOIN tot
""")
def dau_over_active_users(spark, sf_dir):
    """DAU / monthly-active stickiness per day — the engagement ratio
    every growth dashboard leads with (this corpus spans one month, so
    the denominator is the full active base). Distinct counts are
    two-level-combinable; the scalar MAU broadcasts. At 100 TB swap both
    for mergeable HLL sketches (agg_hll_mergeable_sketches shows the
    form)."""
    e = t(spark, sf_dir, "events")
    daily = (e.groupBy(F.to_date(F.date_trunc("day", F.col("ts")))
                       .alias("day"))
             .agg(F.countDistinct("user_id").alias("dau")))
    tot = e.agg(F.countDistinct("user_id").alias("mau"))
    return (daily.crossJoin(F.broadcast(tot))
            .select("day", "dau", "mau",
                    F.round(F.col("dau") / F.col("mau").cast("double"), 9)
                    .alias("stickiness")))


@query("user_burstiness_fano", """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT user_id, COUNT(*) AS n_days,
         CAST(SUM(n) AS BIGINT) AS sx,
         CAST(SUM(n * n) AS BIGINT) AS sxx
  FROM daily GROUP BY user_id
)
SELECT user_id, n_days, sx AS total_events,
       ROUND(((sxx - sx * CAST(sx AS DOUBLE) / n_days)
              / (n_days - 1))
             / (sx / CAST(n_days AS DOUBLE)), 9) AS fano_factor
FROM m
WHERE n_days >= 2
""")
def user_burstiness_fano(spark, sf_dir):
    """Burstiness per user: the Fano factor (variance/mean) of daily
    event counts — ~1 for Poisson-like organic activity, >> 1 for bursty
    bots and batch jobs; the behavioral-forensics statistic that count
    thresholds miss. Integer daily counts make every moment EXACT
    (no decimal casts needed); only the final ratio rounds."""
    e = t(spark, sf_dir, "events")
    daily = (e.groupBy("user_id",
                       F.to_date(F.date_trunc("day", F.col("ts")))
                       .alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    m = (daily.groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n_days"),
              F.sum("n").alias("sx"),
              F.sum(F.col("n") * F.col("n")).alias("sxx")))
    n_days, sx, sxx = F.col("n_days"), F.col("sx"), F.col("sxx")
    var = (sxx - sx * sx.cast("double") / n_days) / (n_days - 1)
    mean = sx / n_days.cast("double")
    return (m.filter(n_days >= 2)
            .select("user_id", "n_days", sx.alias("total_events"),
                    F.round(var / mean, 9).alias("fano_factor")))


# ---------------------------------------------------------------------------
# autocorrelation function of the daily revenue series
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3)


def _acf_sql() -> str:
    legs = []
    for lag in _ACF_LAGS:
        legs.append(f"""
SELECT {lag} AS lag, n, ROUND((n * sxy - sx * sy)
       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS acf
FROM (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(x, 4) AS DECIMAL(30,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 4) AS DECIMAL(30,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 2) AS DECIMAL(30,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(y * y, 2) AS DECIMAL(30,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(ROUND(x * y, 2) AS DECIMAL(30,2))) AS DOUBLE) AS sxy
  FROM (SELECT revenue AS x,
               LAG(revenue, {lag}) OVER (ORDER BY day) AS y
        FROM daily)
  WHERE y IS NOT NULL
)""")
    daily = f"""WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         {sql_dsum('value')} AS revenue
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)"""
    return daily + "\nUNION ALL".join(legs)


@query("timeseries_acf", _acf_sql())
def timeseries_acf(spark, sf_dir):
    """AUTOCORRELATION FUNCTION (lags 1-3) of the daily revenue series —
    the seasonality/persistence diagnostic behind every forecasting
    choice (a strong lag-7 says weekly seasonality; near-zero ACF says
    EWMA beats AR). Per lag: one LAG window pairs the series with its
    shifted self, then Pearson r from exact-decimal moments (operands
    round-4/round-2 BEFORE the decimal cast — products reach ~1e8 where
    round-9 would overflow double's significand). The daily series is
    tiny after the first exact-decimal rollup, so the windows and the
    3-leg union are driver-light and the corpus-sized work is one
    combinable aggregation."""
    e = t(spark, sf_dir, "events")
    daily = (e.filter(F.col("event_type") == "purchase")
             .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(dsum("value").alias("revenue"))
             .transform(materialize))
    out = None
    w = W.orderBy("day")
    for lag in _ACF_LAGS:
        p = (daily.select(F.col("revenue").alias("x"),
                          F.lag("revenue", lag).over(w).alias("y"))
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
            F.lit(lag).alias("lag"), "n",
            F.round((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / F.sqrt((F.col("n") * F.col("sxx")
                              - F.col("sx") * F.col("sx"))
                             * (F.col("n") * F.col("syy")
                                - F.col("sy") * F.col("sy"))), 9)
            .alias("acf"))
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# Kaplan-Meier product-limit survival with right-censoring
# ---------------------------------------------------------------------------

_KM_CENSOR_US = 2 * 3600 * 1000000  # last-2-hours = still active


@query("survival_kaplan_meier", f"""
WITH b AS (SELECT epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS tmax FROM events),
life AS (
  SELECT user_id,
         (epoch_us(CAST(MAX(ts) AS TIMESTAMP))
          - epoch_us(CAST(MIN(ts) AS TIMESTAMP))) // 86400000000 AS dur,
         CASE WHEN epoch_us(CAST(MAX(ts) AS TIMESTAMP))
                   >= b.tmax - {_KM_CENSOR_US} THEN 1 ELSE 0 END AS cens
  FROM events CROSS JOIN b GROUP BY user_id, b.tmax
),
per_day AS (
  SELECT dur AS day, SUM(1 - cens) AS d, COUNT(*) AS ended
  FROM life GROUP BY dur
),
risk AS (
  SELECT day, d, SUM(ended) OVER (ORDER BY day DESC) AS n_at_risk
  FROM per_day
),
km AS (
  SELECT day, d, n_at_risk,
         CASE WHEN d = n_at_risk THEN NULL
              ELSE ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk), 9)
         END AS lnterm,
         CASE WHEN d = n_at_risk THEN 1 ELSE 0 END AS iszero
  FROM risk WHERE d > 0
),
acc AS (
  SELECT day, d, n_at_risk,
         CAST(SUM(CAST(COALESCE(lnterm, 0) AS DECIMAL(20,9)))
              OVER (ORDER BY day) AS DOUBLE) AS cum,
         MAX(iszero) OVER (ORDER BY day) AS z
  FROM km
)
SELECT day AS churn_day, CAST(d AS BIGINT) AS n_churned,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CASE WHEN z = 1 THEN 0.0 ELSE ROUND(exp(cum), 9) END AS km_survival
FROM acc
""")
def survival_kaplan_meier(spark, sf_dir):
    """KAPLAN-MEIER product-limit survival WITH right-censoring — the
    statistically correct upgrade of user_survival_curve's naive
    fractions: users whose last event falls in the final 2 hours of
    the observation window are CENSORED (still alive, they inform the at-risk set but never count
    as churn). S(t) = prod over churn days s<=t of (1 - d_s/n_s),
    computed as exp of an exact-decimal running sum of round-9 log
    terms (cumulative products aren't order-free; ln-space sums of
    fenced terms are). At-risk counts come from ONE descending
    running-sum window over per-day endings — no correlated per-day
    subqueries. Day axis is bounded (distinct churn days), so the
    windows run over a tiny table; the corpus-sized work is one
    per-user min/max pass."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = e.agg(F.max(us).alias("tmax"))
    life = (e.crossJoin(F.broadcast(b))
            .groupBy("user_id", "tmax")
            .agg(F.min(us).alias("f"), F.max(us).alias("l"))
            .select(F.expr("(l - f) div 86400000000").alias("dur"),
                    F.when(F.col("l") >= F.col("tmax") - _KM_CENSOR_US, 1)
                    .otherwise(0).alias("cens")))
    per_day = (life.groupBy(F.col("dur").alias("day"))
               .agg(F.sum(1 - F.col("cens")).alias("d"),
                    F.count(F.lit(1)).alias("ended")))
    risk = per_day.select(
        "day", "d",
        F.sum("ended").over(W.orderBy(F.desc("day")))
        .alias("n_at_risk"))
    km = (risk.filter(F.col("d") > 0)
          .select("day", "d", "n_at_risk",
                  F.when(F.col("d") == F.col("n_at_risk"), None)
                  .otherwise(F.round(F.log(
                      1.0 - F.col("d").cast("double")
                      / F.col("n_at_risk")), 9)).alias("lnterm"),
                  F.when(F.col("d") == F.col("n_at_risk"), 1)
                  .otherwise(0).alias("iszero")))
    w = W.orderBy("day")
    acc = km.select(
        "day", "d", "n_at_risk",
        F.sum(F.coalesce(F.col("lnterm"), F.lit(0.0))
              .cast("decimal(20,9)")).over(w).cast("double").alias("cum"),
        F.max("iszero").over(w).alias("z"))
    return acc.select(
        F.col("day").alias("churn_day"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.when(F.col("z") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("cum"), 9)).alias("km_survival"))


@query("anomaly_mad_days", """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n_events
  FROM events GROUP BY 1
),
med AS (SELECT ROUND(median(CAST(n_events AS DOUBLE)), 9) AS med
        FROM daily),
dev AS (
  SELECT d.day, d.n_events,
         ABS(CAST(d.n_events AS DOUBLE) - m.med) AS adev, m.med
  FROM daily d CROSS JOIN med m
),
madt AS (SELECT ROUND(median(adev), 9) AS mad FROM dev)
SELECT d.day, CAST(d.n_events AS BIGINT) AS n_events,
       d.med AS day_median, t.mad,
       ROUND(0.6745 * (CAST(d.n_events AS DOUBLE) - d.med)
             / NULLIF(t.mad, 0), 9) AS robust_z,
       ABS(0.6745 * (CAST(d.n_events AS DOUBLE) - d.med)
           / NULLIF(t.mad, 0)) > 3.5 AS is_anomaly
FROM dev d CROSS JOIN madt t
""")
def anomaly_mad_days(spark, sf_dir):
    """ROBUST daily anomaly flags via the MEDIAN/MAD rule
    (Iglewicz-Hoskin modified z > 3.5) — the outlier-proof sibling of
    anomaly_zscore_days: one burst day inflates a mean/stddev enough to
    hide itself, but not the median/MAD. Exact medians (round-9 fenced
    interpolation), the 0.6745 consistency constant as a shared
    literal, NULLIF degeneracy guard for a zero-MAD series (both
    engines emit NULL, per the cross-engine division rule). Corpus
    work is one combinable day rollup; medians run over the bounded
    day axis."""
    e = t(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_events")))
    med = daily.agg(F.round(F.percentile(
        F.col("n_events").cast("double"), F.lit(0.5)), 9).alias("med"))
    dev = (daily.crossJoin(F.broadcast(med))
           .select("day", "n_events", "med",
                   F.abs(F.col("n_events").cast("double")
                         - F.col("med")).alias("adev")))
    madt = dev.agg(F.round(F.percentile("adev", F.lit(0.5)), 9)
                   .alias("mad"))
    rz = (0.6745 * (F.col("n_events").cast("double") - F.col("med"))
          / F.nullif(F.col("mad"), F.lit(0.0)))
    return (dev.crossJoin(F.broadcast(madt))
            .select("day",
                    F.col("n_events").cast("bigint").alias("n_events"),
                    F.col("med").alias("day_median"), "mad",
                    F.round(rz, 9).alias("robust_z"),
                    (F.abs(rz) > 3.5).alias("is_anomaly")))


# ---------------------------------------------------------------------------
# recency-weighted activity score (round 7)
# ---------------------------------------------------------------------------

_RECENCY_HALF_DAYS = 30


@query("user_recency_weighted_activity", f"""
WITH anchor AS (
  SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS max_day FROM events
),
scored AS (
  SELECT user_id,
         date_diff('day', CAST(date_trunc('day', ts) AS DATE), a.max_day)
           AS age_days,
         value
  FROM events CROSS JOIN anchor a
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * EXP(-(age_days
             / CAST({_RECENCY_HALF_DAYS} AS DOUBLE))), 9)
           AS DECIMAL(30,9))) AS DOUBLE) AS recency_score
FROM scored
GROUP BY user_id
""")
def user_recency_weighted_activity(spark, sf_dir):
    """EXPONENTIAL TIME-DECAY activity scoring: each event contributes
    value * exp(-age_days/{_RECENCY_HALF_DAYS}) relative to the corpus'
    newest day — the standard recency-weighted engagement feature
    (recommendation freshness, churn risk) that a plain count/sum
    misrepresents. Ages are exact integer day differences against a
    1-row broadcast anchor; per-event terms are round-9'd then
    exact-decimal summed (combinable, order-insensitive). One shuffle
    on user_id."""
    ev = t(spark, sf_dir, "events")
    anchor = ev.agg(F.date_trunc("day", F.max("ts")).cast("date")
                    .alias("max_day"))
    scored = (ev.crossJoin(F.broadcast(anchor))
              .select("user_id",
                      F.datediff("max_day",
                                 F.date_trunc("day", "ts").cast("date"))
                      .alias("age_days"),
                      "value"))
    term = F.col("value") * F.exp(
        -(F.col("age_days") / F.lit(float(_RECENCY_HALF_DAYS))))
    return (scored.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(term, 9).cast("decimal(30,9)"))
                 .cast("double").alias("recency_score")))


# ---------------------------------------------------------------------------
# cohort LTV curve (round 9f)
# ---------------------------------------------------------------------------

@query("cohort_ltv_curve", """
WITH first_m AS (
  SELECT o_custkey,
         MIN(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE))
           AS cohort_month
  FROM orders GROUP BY o_custkey
),
csize AS (
  SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM first_m GROUP BY cohort_month
),
rev AS (
  SELECT f.cohort_month,
         CAST(date_diff('month', f.cohort_month,
              CAST(date_trunc('month', CAST(o.o_orderdate AS DATE))
                   AS DATE)) AS INT) AS age_months,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,8))) AS DOUBLE)
           AS month_rev
  FROM orders o JOIN first_m f ON f.o_custkey = o.o_custkey
  GROUP BY 1, 2
),
cumr AS (
  SELECT cohort_month, age_months,
         CAST(SUM(CAST(month_rev AS DECIMAL(30,8)))
              OVER (PARTITION BY cohort_month ORDER BY age_months
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
  FROM rev
)
SELECT c.cohort_month, c.age_months, s.cohort_size, c.cum_revenue,
       c.cum_revenue / s.cohort_size AS ltv_per_customer
FROM cumr c JOIN csize s ON s.cohort_month = c.cohort_month
WHERE c.age_months <= 12
""")
def cohort_ltv_curve(spark, sf_dir):
    """Cohort LIFETIME-VALUE curve: customers grouped by first-order
    month, cumulative revenue per cohort by month-age, normalized per
    cohort member — the revenue companion to cohort_retention's
    activity triangle (payback-period and LTV/CAC analyses read this
    table directly). First 13 age rows per cohort.

    Month ages are exact integer month diffs between two month-start
    dates (both engines truncate first, so months_between has no
    fractional part); revenue rollups and the running cumulative are
    exact decimal sums; the per-customer LTV is one division by the
    integer cohort size. Shapes: the per-customer first-month dim joins
    back onto orders (broadcast at dim scale), one combinable rollup
    per (cohort, age), a window over cohort-sized partitions."""
    o = t(spark, sf_dir, "orders")
    om = F.date_trunc("month", F.col("o_orderdate").cast("date")) \
        .cast("date")
    first_m = o.groupBy("o_custkey").agg(F.min(om).alias("cohort_month"))
    csize = first_m.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size"))
    age = F.months_between(om, F.col("cohort_month")).cast("int")
    rev = (o.join(F.broadcast(first_m), "o_custkey")
           .groupBy("cohort_month", age.alias("age_months"))
           .agg(dsum("o_totalprice").alias("month_rev")))
    wcum = (W.partitionBy("cohort_month").orderBy("age_months")
            .rowsBetween(W.unboundedPreceding, 0))
    cumr = rev.select(
        "cohort_month", "age_months",
        F.sum(F.col("month_rev").cast("decimal(30,8)")).over(wcum)
        .cast("double").alias("cum_revenue"))
    return (cumr.join(F.broadcast(csize), "cohort_month")
            .filter(F.col("age_months") <= 12)
            .select("cohort_month", "age_months", "cohort_size",
                    "cum_revenue",
                    (F.col("cum_revenue") / F.col("cohort_size"))
                    .alias("ltv_per_customer")))


# ---------------------------------------------------------------------------
# Markov next-event top-1 accuracy (round 9g)
# ---------------------------------------------------------------------------

@query("markov_next_event_accuracy", """
WITH seq AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
trans AS (SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL),
counts AS (SELECT cur, nxt, COUNT(*) AS c FROM trans GROUP BY cur, nxt),
pred AS (
  SELECT cur, nxt AS predicted FROM (
    SELECT cur, nxt, ROW_NUMBER() OVER (PARTITION BY cur
                                        ORDER BY c DESC, nxt ASC) AS rn
    FROM counts
  ) WHERE rn = 1
),
hits AS (
  SELECT CAST(SUM(CASE WHEN c2.nxt = p.predicted THEN c2.c ELSE 0 END)
              AS BIGINT) AS n_correct,
         CAST(SUM(c2.c) AS BIGINT) AS n_transitions,
         CAST(COUNT(DISTINCT c2.cur) AS BIGINT) AS n_states
  FROM counts c2 JOIN pred p ON p.cur = c2.cur
)
SELECT n_states, n_transitions, n_correct,
       n_correct / CAST(n_transitions AS DOUBLE) AS top1_accuracy
FROM hits
""")
def markov_next_event_accuracy(spark, sf_dir):
    """In-sample TOP-1 accuracy of the first-order Markov next-event
    model: for each state, predict the modal successor ((count desc,
    type) tiebreak — the markov_event_transitions matrix argmaxed) and
    score it against every observed transition. The evaluation that
    turns the transition-matrix diagnostic into a number you can compare
    against deeper sequence models before spending on them.

    The fit and the scoring share ONE (cur, nxt) count table — the
    argmax is a window over the per-state successor lists and the
    accuracy is a count-weighted join back, so the corpus contributes
    exactly one LEAD window plus one combinable aggregation. All counts
    integer; accuracy is one integer-ratio division."""
    e = t(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(F.col("event_type").alias("cur"),
                   F.lead("event_type").over(wl).alias("nxt"))
    counts = (seq.filter(F.col("nxt").isNotNull())
              .groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
              .transform(materialize))
    wp = W.partitionBy("cur").orderBy(F.desc("c"), F.asc("nxt"))
    pred = (counts.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") == 1)
            .select("cur", F.col("nxt").alias("predicted")))
    hits = (counts.join(F.broadcast(pred), "cur")
            .agg(F.sum(F.when(F.col("nxt") == F.col("predicted"),
                              F.col("c")).otherwise(0))
                 .cast("bigint").alias("n_correct"),
                 F.sum("c").cast("bigint").alias("n_transitions"),
                 F.countDistinct("cur").cast("bigint").alias("n_states")))
    return hits.select(
        "n_states", "n_transitions", "n_correct",
        (F.col("n_correct") / F.col("n_transitions").cast("double"))
        .alias("top1_accuracy"))


# ---------------------------------------------------------------------------
# log-rank test between two user cohorts (round 12)
# ---------------------------------------------------------------------------

@query("survival_log_rank", f"""
WITH b AS (SELECT epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS tmax FROM events),
life AS (
  SELECT user_id, user_id % 2 AS grp,
         (epoch_us(CAST(MAX(ts) AS TIMESTAMP))
          - epoch_us(CAST(MIN(ts) AS TIMESTAMP))) // 86400000000 AS dur,
         CASE WHEN epoch_us(CAST(MAX(ts) AS TIMESTAMP))
                   >= b.tmax - {_KM_CENSOR_US} THEN 1 ELSE 0 END AS cens
  FROM events CROSS JOIN b GROUP BY user_id, b.tmax
),
per_day AS (
  SELECT dur AS day,
         CAST(SUM((1 - cens) * grp) AS BIGINT) AS d1,
         CAST(SUM((1 - cens) * (1 - grp)) AS BIGINT) AS d0,
         CAST(SUM(grp) AS BIGINT) AS end1,
         CAST(SUM(1 - grp) AS BIGINT) AS end0
  FROM life GROUP BY dur
),
risk AS (
  SELECT day, d1, d0,
         CAST(SUM(end1) OVER (ORDER BY day DESC) AS BIGINT) AS n1,
         CAST(SUM(end0) OVER (ORDER BY day DESC) AS BIGINT) AS n0
  FROM per_day
),
terms AS (
  SELECT d1, d0 + d1 AS d, n1, n0, n1 + n0 AS n
  FROM risk WHERE d0 + d1 > 0
),
agg AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(CAST(ROUND((d * n1) / CAST(n AS DOUBLE), 9)
                       AS DECIMAL(20,9))) AS DOUBLE) AS e1,
         CAST(SUM(CAST(ROUND(((d * n1) / CAST(n AS DOUBLE))
                             * (n0 / CAST(n AS DOUBLE))
                             * ((n - d)
                                / CAST(NULLIF(n - 1, 0) AS DOUBLE)), 9)
                       AS DECIMAL(20,9))) AS DOUBLE) AS v
  FROM terms
)
SELECT o1 AS observed_g1, e1 AS expected_g1, v AS variance,
       (o1 - e1) / NULLIF(sqrt(v), 0) AS z_score,
       ((o1 - e1) / NULLIF(sqrt(v), 0))
         * ((o1 - e1) / NULLIF(sqrt(v), 0)) AS chi_sq
FROM agg
""")
def survival_log_rank(spark, sf_dir):
    """LOG-RANK TEST (Mantel 1966; Peto & Peto 1972) between the two
    deterministic user cohorts (user_id parity) under the SAME
    right-censoring rule as survival_kaplan_meier: at every churn day,
    observed group-1 deaths are compared to the hypergeometric
    expectation d*n1/n, with variance d*(n1/n)*(n0/n)*(n-d)/(n-1); the
    standardized sum is the survival-curve-difference significance test
    every cohort/retention analysis needs beside the KM curves
    themselves. All at-risk and death counts are exact integers from
    TWO descending running-sum windows over the bounded day axis;
    per-day expectation and variance terms are round-9-fenced ratio
    products of those integers (identically-shaped expressions both
    engines) summed as exact decimals; z and chi-square are arithmetic
    on identical doubles, NULLIF-guarded. Corpus-sized work is one
    per-user min/max pass — the same shape as KM."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = e.agg(F.max(us).alias("tmax"))
    life = (e.crossJoin(F.broadcast(b))
            .groupBy("user_id", "tmax")
            .agg(F.min(us).alias("f"), F.max(us).alias("l"))
            .select((F.col("user_id") % 2).alias("grp"),
                    F.expr("(l - f) div 86400000000").alias("dur"),
                    F.when(F.col("l") >= F.col("tmax") - _KM_CENSOR_US, 1)
                    .otherwise(0).alias("cens")))
    per_day = (life.groupBy(F.col("dur").alias("day"))
               .agg(F.sum((1 - F.col("cens")) * F.col("grp"))
                    .cast("bigint").alias("d1"),
                    F.sum((1 - F.col("cens")) * (1 - F.col("grp")))
                    .cast("bigint").alias("d0"),
                    F.sum(F.col("grp")).cast("bigint").alias("end1"),
                    F.sum(1 - F.col("grp")).cast("bigint").alias("end0")))
    wdesc = W.orderBy(F.desc("day"))
    risk = per_day.select(
        "day", "d1", "d0",
        F.sum("end1").over(wdesc).cast("bigint").alias("n1"),
        F.sum("end0").over(wdesc).cast("bigint").alias("n0"))
    terms = (risk.filter(F.col("d0") + F.col("d1") > 0)
             .select("d1", (F.col("d0") + F.col("d1")).alias("d"),
                     "n1", "n0", (F.col("n1") + F.col("n0")).alias("n")))
    d, n1, n0, n = (F.col("d"), F.col("n1"), F.col("n0"), F.col("n"))
    e1t = F.round((d * n1) / n.cast("double"), 9)
    vt = F.round(((d * n1) / n.cast("double"))
                 * (n0 / n.cast("double"))
                 * ((n - d) / F.nullif(n - 1, F.lit(0)).cast("double")), 9)
    agg = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(e1t.cast("decimal(20,9)")).cast("double").alias("e1"),
        F.sum(vt.cast("decimal(20,9)")).cast("double").alias("v"))
    z = (F.col("o1") - F.col("e1")) / F.nullif(F.sqrt(F.col("v")),
                                               F.lit(0.0))
    return agg.select(
        F.col("o1").alias("observed_g1"),
        F.col("e1").alias("expected_g1"),
        F.col("v").alias("variance"),
        z.alias("z_score"),
        (z * z).alias("chi_sq"))


# ---------------------------------------------------------------------------
# fixed-frequency periodogram of the daily revenue series (round 12)
# ---------------------------------------------------------------------------

_DFT_KS = 4  # Fourier coefficients k = 1..4


@query("timeseries_periodogram", f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {{rev}} AS rev
  FROM orders GROUP BY 1
),
idx AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY day) - 1 AS tt,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
),
ks AS (SELECT UNNEST(range(1, {_DFT_KS} + 1)) AS k),
coef AS (
  SELECT k, MAX(n) AS n,
         CAST(SUM(CAST(ROUND(rev * ROUND(cos(2 * pi() * k * tt / n), 9),
                             2) AS DECIMAL(30,2))) AS DOUBLE) AS a_k,
         CAST(SUM(CAST(ROUND(rev * ROUND(sin(2 * pi() * k * tt / n), 9),
                             2) AS DECIMAL(30,2))) AS DOUBLE) AS b_k
  FROM idx CROSS JOIN ks
  GROUP BY k
)
SELECT CAST(k AS BIGINT) AS k, n AS n_obs, a_k, b_k,
       (a_k * a_k + b_k * b_k) / n AS power
FROM coef
""".format(rev=sql_dsum('o_totalprice')))
def timeseries_periodogram(spark, sf_dir):
    """FIXED-FREQUENCY PERIODOGRAM of the daily revenue series: the
    Fourier coefficients a_k = sum x_t cos(2 pi k t/n) and b_k (k=1..4)
    and their power (a^2+b^2)/n — the frequency-domain seasonality
    detector complementing the lag-domain ACF (a weekly cycle shows as
    power concentrated at the matching k; the classical-decompose
    entry then extracts it). The basis values cos/sin are round-9
    fenced per (k, t) — libm trig differs in the last ulp across
    engines — then the revenue products are round-2 fenced (daily
    revenue ~1e5-1e6: round-9 products would exceed the double
    significand, the ACF recipe) and decimal-summed; power is
    arithmetic on identical doubles. The series is deliberately
    uncentered (the k >= 1 basis sums are orthogonal to the mean up to
    fenced rounding, identically on both engines). One combinable
    daily rollup, then a k×n broadcast expansion over the tiny day
    table."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev"))
             .transform(materialize))
    wn = W.orderBy("day")
    idx = daily.select(
        "rev", (F.row_number().over(wn) - 1).alias("tt"),
        F.count(F.lit(1)).over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .cast("bigint").alias("n"))
    ks = spark.range(1, _DFT_KS + 1).select(F.col("id").alias("k"))
    ang = (2 * F.expr("pi()") * F.col("k") * F.col("tt") / F.col("n"))
    coef = (idx.crossJoin(F.broadcast(ks))
            .groupBy("k")
            .agg(F.max("n").alias("n"),
                 F.sum(F.round(F.col("rev") * F.round(F.cos(ang), 9), 2)
                       .cast("decimal(30,2)")).cast("double").alias("a_k"),
                 F.sum(F.round(F.col("rev") * F.round(F.sin(ang), 9), 2)
                       .cast("decimal(30,2)")).cast("double")
                 .alias("b_k")))
    return coef.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n").alias("n_obs"), "a_k", "b_k",
        ((F.col("a_k") * F.col("a_k") + F.col("b_k") * F.col("b_k"))
         / F.col("n")).alias("power"))
