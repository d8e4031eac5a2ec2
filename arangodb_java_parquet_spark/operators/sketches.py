"""Portable cardinality / frequency sketches as RELATIONAL operators.

Spark ships HLL++ (``approx_count_distinct``) and a count-min-like
frequency estimator, but their sketch internals are engine-private: results
are approximate AND unverifiable cross-engine, so the registry could only
ever carry them as rows-only entries. The sketches here take the same
design stance as the portable Bloom filter (operators/dedup.py:bloom_build):
every register is derived from md5 bits through integer-exact expressions,
so the ENTIRE sketch — registers, merge, estimate — is value-checkable
against a DuckDB oracle while keeping the genuine sketch properties
(bounded size, mergeability, one-pass map-side-combinable construction).

Scale story (100 TB): both sketches aggregate to a constant-size state per
group (m registers / depth×width counters) with map-side partial MAX/SUM —
corpus rows are scanned once and never shuffled; only register rows move.
Merging shards/streams is the same MAX/SUM aggregation over register rows
(pinned by tests/test_sketches.py merge proofs).

HLL layout (m=64, 60-bit hash): h = first 15 md5 hex digits (fits BIGINT);
bucket = top 6 bits (h div 2^54); w = low 54 bits; rank rho = 55 - bitlen(w)
(w=0 -> 55, handled by ltrim-of-binary giving length 0). Estimate =
alpha_64 * m^2 / sum(2^-register), with the standard linear-counting
correction below 2.5m; the 2^-r sum is computed EXACTLY as an integer
sum(2^(55-r)) / 2^55 (max shift 54, inside the 62-bit portable discipline).

CMS layout (depth 4 x width 256): row r's column for token t = first 8 md5
hex digits of '<r>:'||t, mod width. Point estimate = min over rows of the
(r, c) counter — never underestimates; overestimate bounded by the classic
e*N/width with probability 1-e^-depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_M = 64           # buckets (2^6)
HLL_WINDOW = 54      # rank-window bits; 6 + 54 = 60 bits = 15 hex digits
CMS_DEPTH = 4
CMS_WIDTH = 256


def _hll_h(value_col: str) -> str:
    return (f"CAST(conv(substring(md5(CAST({value_col} AS STRING)),1,15),"
            f"16,10) AS BIGINT)")


def hll_registers(df: DataFrame, value_col: str,
                  group_cols: list[str]) -> DataFrame:
    """(group..., bucket, r): max-rank register table, m rows max per
    group. One combinable MAX aggregation; merging two register tables is
    the same groupBy-MAX over their union."""
    h = _hll_h(value_col)
    two54 = 1 << HLL_WINDOW
    return (df.select(*group_cols,
                      F.expr(f"{h} div {two54}").alias("bucket"),
                      F.expr(f"CAST({HLL_WINDOW} + 1 AS INT) - "
                             f"length(ltrim('0', bin({h} % {two54})))")
                      .alias("rho"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rho").alias("r")))


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cardinality estimate from a register table: exact integer
    sum(2^(55-r)) per group, then the HLL formula with linear-counting
    small-range correction — every step IEEE-identical cross-engine."""
    m = HLL_M
    shift_base = HLL_WINDOW + 1
    empty = (F.lit(m) - F.count(F.lit(1))).alias("v_zero")
    s = F.sum(F.expr(f"shiftleft(1L, {shift_base} - r)")).alias("s_seen")
    agg = (regs.groupBy(*group_cols).agg(s, empty)
           # empty buckets hold register 0 and contribute 2^-0 = 1 each to
           # the harmonic sum — in scaled-integer form, v_zero * 2^55
           # (missing them inflates estimates ~2x at n ≈ 2m; caught by
           # tests/test_sketches.py::test_hll_estimate_within_error_band)
           .withColumn("s", F.expr(
               f"s_seen + v_zero * shiftleft(1L, {shift_base})")))
    # alpha_m * m^2 * 2^55 / S, left-to-right double arithmetic
    raw = F.expr(
        f"0.7213e0 / (1.0e0 + 1.079e0 / {m}.0e0) * {m * m}.0e0 * "
        f"CAST(shiftleft(1L, {shift_base}) AS DOUBLE) / CAST(s AS DOUBLE)")
    corrected = F.when(
        (raw <= 2.5 * m) & (F.col("v_zero") > 0),
        F.round(F.expr(f"{m}.0e0 * ln({m}.0e0 / CAST(v_zero AS DOUBLE))"), 9)
    ).otherwise(F.round(raw, 9))
    return agg.select(*group_cols, corrected.alias("est_distinct"))


def hll_sql(value_expr: str, group_cols: str, src: str) -> str:
    """DuckDB oracle for hll_registers ∘ hll_estimate — generated from the
    same constants so the layouts can never drift apart."""
    m, win = HLL_M, HLL_WINDOW
    two54 = 1 << win
    h = f"CAST('0x' || substring(md5(CAST({value_expr} AS VARCHAR)),1,15) AS BIGINT)"
    return f"""
WITH rho AS (
  SELECT {group_cols}, {h} // {two54} AS bucket,
         {win + 1} - length(ltrim(bin({h} % {two54}), '0')) AS rho
  FROM {src}
),
regs AS (
  SELECT {group_cols}, bucket, MAX(rho) AS r
  FROM rho GROUP BY {group_cols}, bucket
),
agg AS (
  SELECT {group_cols},
         SUM(1::BIGINT << ({win + 1} - r))
           + ({m} - COUNT(*)) * (1::BIGINT << {win + 1}) AS s,
         {m} - COUNT(*) AS v_zero
  FROM regs GROUP BY {group_cols}
)
SELECT {group_cols},
       CASE WHEN 0.7213e0 / (1.0e0 + 1.079e0 / {m}.0e0) * {m * m}.0e0
                 * CAST(1::BIGINT << {win + 1} AS DOUBLE) / CAST(s AS DOUBLE)
                 <= {2.5 * m}e0
             AND v_zero > 0
            THEN ROUND({m}.0e0 * ln({m}.0e0 / CAST(v_zero AS DOUBLE)), 9)
            ELSE ROUND(0.7213e0 / (1.0e0 + 1.079e0 / {m}.0e0) * {m * m}.0e0
                 * CAST(1::BIGINT << {win + 1} AS DOUBLE)
                 / CAST(s AS DOUBLE), 9)
       END AS est_distinct
FROM agg
"""


def hll_rho_select_sql(value_expr: str, group_cols: str, src: str) -> str:
    """The (group..., bucket, rho) SELECT body — the ONE source of truth
    for the oracle-side hash/bucket/rank layout (composed by every
    HLL oracle rather than hand-copied)."""
    win = HLL_WINDOW
    two54 = 1 << win
    h = (f"CAST('0x' || substring(md5(CAST({value_expr} AS VARCHAR)),1,15)"
         f" AS BIGINT)")
    return (f"SELECT {group_cols}, {h} // {two54} AS bucket,\n"
            f"         {win + 1} - length(ltrim(bin({h} % {two54}), '0'))"
            f" AS rho\n  FROM {src}")


def hll_registers_sql(value_expr: str, group_cols: str, src: str) -> str:
    return f"""
WITH rho AS (
  {hll_rho_select_sql(value_expr, group_cols, src)}
)
SELECT {group_cols}, bucket, MAX(rho) AS r
FROM rho GROUP BY {group_cols}, bucket
"""


def hll_estimate_from_regs_sql(group_cols: str, regs: str) -> str:
    """Estimate SELECT over an existing (group..., bucket, r) register
    relation — same arithmetic as hll_sql's tail, factored so derived
    sketches (merged unions, set algebra) reuse it."""
    m, win = HLL_M, HLL_WINDOW
    return f"""
  SELECT {group_cols},
       CASE WHEN 0.7213e0 / (1.0e0 + 1.079e0 / {m}.0e0) * {m * m}.0e0
                 * CAST(1::BIGINT << {win + 1} AS DOUBLE) / CAST(s AS DOUBLE)
                 <= {2.5 * m}e0
             AND v_zero > 0
            THEN ROUND({m}.0e0 * ln({m}.0e0 / CAST(v_zero AS DOUBLE)), 9)
            ELSE ROUND(0.7213e0 / (1.0e0 + 1.079e0 / {m}.0e0) * {m * m}.0e0
                 * CAST(1::BIGINT << {win + 1} AS DOUBLE)
                 / CAST(s AS DOUBLE), 9)
       END AS est_distinct
  FROM (
    SELECT {group_cols},
           SUM(1::BIGINT << ({win + 1} - r))
             + ({m} - COUNT(*)) * (1::BIGINT << {win + 1}) AS s,
           {m} - COUNT(*) AS v_zero
    FROM {regs} GROUP BY {group_cols}
  )
"""


# -- count-min sketch -------------------------------------------------------

def _cms_col(token_col: str, row: int) -> str:
    return (f"CAST(conv(substring(md5('{row}:' || {token_col}),1,8),16,10) "
            f"AS BIGINT) % {CMS_WIDTH}")


def cms_build(tokens: DataFrame, token_col: str) -> DataFrame:
    """(r, c, cnt): depth×width counter table over a token stream. One
    explode (depth rows per token) + one combinable SUM; at scale the
    sketch is depth×width rows total whatever the corpus, and daily /
    per-shard sketches merge by summing counters."""
    cols = F.array(*[F.expr(_cms_col(token_col, r))
                     for r in range(CMS_DEPTH)])
    return (tokens.select(F.posexplode(cols).alias("r", "c"))
            .groupBy("r", "c")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_probe(queries: DataFrame, token_col: str,
              cms: DataFrame) -> DataFrame:
    """Point-frequency estimates: min over depth rows of the probed
    counter. The sketch table broadcasts (depth×width rows); estimates
    never underestimate the true count."""
    probes = queries.select(
        token_col,
        F.posexplode(F.array(*[F.expr(_cms_col(token_col, r))
                               for r in range(CMS_DEPTH)]))
        .alias("r", "c"))
    return (probes.join(F.broadcast(cms), ["r", "c"], "left")
            .groupBy(token_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("cms_est")))


def cms_pos_sql(token_expr: str, row: int) -> str:
    """DuckDB column index for CMS row ``row`` — same md5 layout."""
    return (f"CAST('0x' || substring(md5('{row}:' || {token_expr}),1,8) "
            f"AS BIGINT) % {CMS_WIDTH}")


# -- mergeable histogram / quantile sketch ----------------------------------

QSK_BINS = 128


def quantile_sketch_bounds(df: DataFrame, cents_expr: str) -> DataFrame:
    """1-row (lo, width) bounds table for the histogram sketch — a LAZY
    broadcast scalar, so the sketch plans as one job instead of an eager
    min/max `.first()` gating query construction (r16, the batch-5
    eager-scalar class; VERDICT r15 #6). A production deployment pins
    bounds a priori instead."""
    c = F.expr(cents_expr)
    return df.agg(F.min(c).alias("__lo"),
                  (F.max(c) - F.min(c) + F.lit(1)).alias("__width"))


def quantile_sketch_hist(df: DataFrame, cents_expr: str,
                         lo: int | None = None, hi: int | None = None,
                         bounds: DataFrame | None = None) -> DataFrame:
    """(bin, cnt): fixed-width histogram sketch over an exact-integer
    (cents) value with CLOSED bounds [lo, hi] — the bin index is pure
    integer arithmetic ((c - lo) * B div (hi - lo + 1)), so identical in
    every engine and under any partitioning. Bounds come either as
    python ints (the a-priori production form the merge test pins) or as
    a lazy 1-row ``bounds`` table (quantile_sketch_bounds) crossJoined
    broadcast — bin arithmetic is identical either way (exact bigint
    columns vs exact bigint literals). With bounds fixed, per-shard
    histograms merge by counter SUM (tests pin it); one
    map-side-combinable aggregation, B rows out whatever the corpus."""
    b = QSK_BINS
    if bounds is not None:
        return (df.crossJoin(F.broadcast(bounds))
                .select(F.expr(
                    f"({cents_expr} - __lo) * {b} div __width").alias("bin"))
                .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")))
    width = hi - lo + 1
    return (df.select(F.expr(
                f"({cents_expr} - {lo}) * {b} div {width}").alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")))


def quantile_sketch_estimate(hist: DataFrame, lo: int | None = None,
                             hi: int | None = None,
                             quantiles: list[float] = (),
                             bounds: DataFrame | None = None) -> DataFrame:
    """Interpolated quantile estimates from the histogram sketch: walk the
    cumulative counts to the bin containing rank ceil(q*n), then linearly
    interpolate inside the bin. Every input to the double arithmetic is an
    exact integer (ranks, cumulative counts, bin index, bounds — as
    literals or as exact bigint columns cast to double, identical
    values), and the expression is written left-to-right identically in
    the oracle, so the estimates hash-match cross-engine; round-9 caps
    libm-free drift."""
    from pyspark.sql import Window as W
    b = QSK_BINS
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(W.orderBy("bin")
                                 .rowsBetween(W.unboundedPreceding, 0)))
    total = hist.agg(F.sum("cnt").alias("n"))
    qs = total.select(
        "n", F.explode(F.array(*[F.lit(q) for q in quantiles])).alias("q"))
    tgt = qs.select("q", "n",
                    F.expr("CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT)")
                    .alias("target"))
    hit = (tgt.join(F.broadcast(cum),
                    (F.col("cum") >= F.col("target")) &
                    (F.col("cum") - F.col("cnt") < F.col("target")))
           .select("q", "target", "bin", "cnt", "cum"))
    if bounds is not None:
        lo_s, w_s = "CAST(__lo AS DOUBLE)", "CAST(__width AS DOUBLE)"
        hit = hit.crossJoin(F.broadcast(bounds))
    else:
        lo_s, w_s = f"{lo}.0e0", f"{hi - lo + 1}.0e0"
    est = F.expr(
        f"round(({lo_s} + CAST(bin AS DOUBLE) * {w_s} / {b}.0e0"
        f" + (CAST(target AS DOUBLE) - (CAST(cum AS DOUBLE)"
        f" - CAST(cnt AS DOUBLE))) / CAST(cnt AS DOUBLE)"
        f" * ({w_s} / {b}.0e0)) / 100.0e0, 9)")
    return hit.select("q", est.alias("est_value"))


# ---------------------------------------------------------------------------
# GK-style deterministic quantile summary (round 9)
# ---------------------------------------------------------------------------

# the GK summary keeps every GK_S-th value of each of GK_SHARDS shards and
# answers GK_QUANTILES, each an integer ratio (num, den)
GK_S, GK_SHARDS = 64, 4
GK_QUANTILES = ((1, 2), (9, 10), (99, 100))


def gk_quantile_summary(df: DataFrame, val_col: str, key_col: str,
                        group_col: str) -> DataFrame:
    """Greenwald-Khanna-STYLE mergeable quantile summary, made fully
    deterministic so Spark and an ANSI-SQL oracle agree to the bit
    (unlike approx_percentile, whose GK/KLL internals are engine-private
    — see agg_approx_quantile's rows-only justification).

    The classic GK summary keeps tuples (v, g, delta) where g is the gap
    in rank to the previous kept tuple. Streaming GK is insertion-order
    dependent; the deterministic variant keeps, per shard (key mod
    GK_SHARDS), every GK_S-th element of the TOTALLY ORDERED data (order
    by value with a unique key tiebreak) plus the shard maximum —
    exactly the summary GK's compress phase converges to, with delta = 0
    and per-shard rank error <= GK_S. Shard summaries MERGE by
    interleaving tuples in value order and cumulative-summing g (the GK
    merge); merged rank error is <= GK_SHARDS * GK_S. A quantile query
    returns the first tuple whose cumulative g reaches ceil(q * n).

    Determinism notes: quantiles are INTEGER ratios (num, den) — never
    float literals, which DuckDB parses as DECIMAL; targets use integer
    ceiling division; cumulative sums are CAST BIGINT (DuckDB windowed
    integer SUM promotes to HUGEINT); the estimate is a raw data value,
    no arithmetic.

    Scale (100 TB): each shard's summary is ~n_shard/GK_S tuples built
    by one per-(group, shard) window; the merge is a window over
    groups x (GK_SHARDS * n/GK_S) summary tuples — the corpus never
    re-sorts globally. With shards = executor partitions this is the
    standard distributed-GK topology; GK_S trades summary size for rank
    error.

    Output: (group_col, q, est_value, n_total, n_summary).
    """
    from pyspark.sql import Window as W

    src = df.select(F.col(group_col).alias("p"),
                    F.col(val_col).alias("v"),
                    F.col(key_col).alias("k"),
                    (F.col(key_col) % GK_SHARDS).alias("shard"))
    w_rn = W.partitionBy("p", "shard").orderBy("v", "k")
    w_n = W.partitionBy("p", "shard")
    rn = (src.withColumn("rn", F.row_number().over(w_rn))
          .withColumn("n_shard", F.count(F.lit(1)).over(w_n)))
    kept = rn.filter((F.col("rn") % GK_S == 0)
                     | (F.col("rn") == F.col("n_shard")))
    w_g = W.partitionBy("p", "shard").orderBy("rn")
    wg = kept.withColumn(
        "g", (F.col("rn") - F.coalesce(F.lag("rn").over(w_g), F.lit(0)))
        .cast("bigint"))
    w_cum = (W.partitionBy("p").orderBy("v", "k")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    merged = wg.withColumn("cum", F.sum("g").over(w_cum).cast("bigint"))
    tot = (src.groupBy("p")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_total")))
    summ = (wg.groupBy("p")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_summary")))
    qdf = F.explode(F.array(*[
        F.struct(F.lit(num).alias("num"), F.lit(den).alias("den"))
        for num, den in GK_QUANTILES])).alias("qq")
    tgt = (tot.select("p", "n_total", qdf)
           .select("p", "n_total", F.col("qq.num").alias("num"),
                   F.col("qq.den").alias("den"))
           .withColumn("target", F.expr(
               "CAST((n_total * num + den - 1) div den AS BIGINT)")))
    w_hit = W.partitionBy("p", "num", "den").orderBy("cum", "v", "k")
    hit = (F.broadcast(tgt)
           .join(merged.select("p", "v", "k", "cum"), "p")
           .filter(F.col("cum") >= F.col("target"))
           .withColumn("hr", F.row_number().over(w_hit))
           .filter(F.col("hr") == 1))
    return (hit.join(F.broadcast(summ), "p")
            .select(F.col("p").alias(group_col),
                    (F.col("num").cast("double") / F.col("den")).alias("q"),
                    F.col("v").alias("est_value"), "n_total", "n_summary"))


def gk_quantile_summary_sql(val_expr: str, key_expr: str, group_expr: str,
                            src: str) -> str:
    """ANSI-SQL twin of :func:`gk_quantile_summary` (one shared
    generator, never hand-copied — the same single-source pattern as
    hll_sql)."""
    qvals = ", ".join(f"({num}, {den})" for num, den in GK_QUANTILES)
    return f"""
WITH gk_src AS (
  SELECT {group_expr} AS p, {val_expr} AS v, {key_expr} AS k,
         {key_expr} % {GK_SHARDS} AS shard
  FROM {src}
),
gk_rn AS (
  SELECT p, shard, v, k,
         ROW_NUMBER() OVER (PARTITION BY p, shard ORDER BY v, k) AS rn,
         COUNT(*) OVER (PARTITION BY p, shard) AS n_shard
  FROM gk_src
),
gk_kept AS (
  SELECT p, shard, v, k, rn FROM gk_rn
  WHERE rn % {GK_S} = 0 OR rn = n_shard
),
gk_wg AS (
  SELECT p, shard, v, k, rn,
         CAST(rn - COALESCE(LAG(rn) OVER (PARTITION BY p, shard
                                          ORDER BY rn), 0) AS BIGINT) AS g
  FROM gk_kept
),
gk_merged AS (
  SELECT p, v, k,
         CAST(SUM(g) OVER (PARTITION BY p ORDER BY v, k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM gk_wg
),
gk_tot AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_total
           FROM gk_src GROUP BY p),
gk_summ AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_summary
            FROM gk_wg GROUP BY p),
gk_tgt AS (
  SELECT t.p, t.n_total, qq.num, qq.den,
         (t.n_total * qq.num + qq.den - 1) // qq.den AS target
  FROM gk_tot t CROSS JOIN (VALUES {qvals}) AS qq(num, den)
),
gk_hit AS (
  SELECT g.p, g.n_total, g.num, g.den, m.v,
         ROW_NUMBER() OVER (PARTITION BY g.p, g.num, g.den
                            ORDER BY m.cum, m.v, m.k) AS hr
  FROM gk_tgt g JOIN gk_merged m ON m.p = g.p AND m.cum >= g.target
)
SELECT h.p AS {group_expr},
       CAST(h.num AS DOUBLE) / h.den AS q,
       h.v AS est_value, h.n_total, s.n_summary
FROM gk_hit h JOIN gk_summ s ON s.p = h.p
WHERE h.hr = 1"""
