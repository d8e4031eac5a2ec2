"""Portable-sketch query inventory: value-checked HyperLogLog and
count-min-sketch entries (operators/sketches.py). Unlike Spark's built-in
``approx_count_distinct`` / HLL++ (engine-private sketch internals, forever
rows-only), these sketches are md5-derived through integer-exact
expressions, so registers AND estimates hash-match a DuckDB oracle — the
sketch itself is under test, not just its row count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.sketches import (
    CMS_DEPTH, QSK_BINS, cms_build, cms_pos_sql, cms_probe, hll_estimate,
    hll_registers, hll_registers_sql, hll_sql)
from arangodb_java_parquet_spark.queries.common import query, t


@query("agg_hll_portable_registers",
       hll_registers_sql("o_custkey", "o_orderpriority", "orders"))
def agg_hll_portable_registers(spark, sf_dir):
    """The HLL register table itself (max-rank per (group, bucket)) for
    distinct-customer-per-priority — VALUE-CHECKED sketch state, which the
    engine-private HLL++ can never be. Constant m rows per group, one
    map-side-combinable MAX; shard/stream merge is the same MAX over
    unioned registers (merge proof in tests/test_sketches.py)."""
    o = t(spark, sf_dir, "orders")
    return hll_registers(o, "o_custkey", ["o_orderpriority"])


@query("agg_hll_portable_estimate",
       hll_sql("o_custkey", "o_orderpriority", "orders"))
def agg_hll_portable_estimate(spark, sf_dir):
    """Portable-HLL cardinality estimate per group, hash-checked to the
    last bit cross-engine: the 2^-rank sum is an EXACT integer
    sum(2^(55-r))/2^55 (62-bit shift discipline), the alpha_m formula is
    written in identical left-to-right double arithmetic in both engines,
    and the linear-counting small-range branch round-9s its ln(). The
    companion test pins the estimate within the theoretical ~1.04/sqrt(m)
    relative-error band of the exact distinct count."""
    o = t(spark, sf_dir, "orders")
    return hll_estimate(hll_registers(o, "o_custkey", ["o_orderpriority"]),
                        ["o_orderpriority"])


_CMS_TOPK = 25

_CMS_SQL = f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
),
truth AS (
  SELECT tok, COUNT(*) AS true_cnt FROM toks GROUP BY tok
),
top AS (
  SELECT tok, true_cnt FROM truth
  ORDER BY true_cnt DESC, tok ASC LIMIT {_CMS_TOPK}
),
cells AS (
  SELECT r, c, COUNT(*) AS cnt
  FROM (SELECT UNNEST([{", ".join(cms_pos_sql("tok", r)
                                  for r in range(CMS_DEPTH))}]) AS c,
               UNNEST([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS r
        FROM toks)
  GROUP BY r, c
),
est AS (
  SELECT top.tok,
         MIN(COALESCE(cells.cnt, 0)) AS cms_est
  FROM top
  CROSS JOIN UNNEST([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS t(r)
  LEFT JOIN cells
    ON cells.r = t.r
   AND cells.c = CASE t.r
       {" ".join(f"WHEN {r} THEN {cms_pos_sql('top.tok', r)}"
                 for r in range(CMS_DEPTH))} END
  GROUP BY top.tok
)
SELECT top.tok, top.true_cnt, est.cms_est,
       est.cms_est >= top.true_cnt AS never_underestimates
FROM top JOIN est ON est.tok = top.tok
"""


@query("cms_token_frequencies", _CMS_SQL)
def cms_token_frequencies(spark, sf_dir):
    """Count-min-sketch frequency estimates for the corpus's top tokens,
    next to the exact counts — the one-pass heavy-hitter screen a 100 TB
    token pipeline runs instead of a full groupBy(token) (the sketch is
    depth×width rows, mergeable across shards by counter SUM; the exact
    join here exists to value-check the estimates and demonstrate the
    never-underestimates guarantee as a column)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = (truth.orderBy(F.desc("true_cnt"), F.asc("tok"))
           .limit(_CMS_TOPK))
    sketch = cms_build(toks, "tok")
    est = cms_probe(top.select("tok"), "tok", sketch)
    return (top.join(est, "tok")
            .select("tok", "true_cnt", "cms_est",
                    (F.col("cms_est") >= F.col("true_cnt"))
                    .alias("never_underestimates")))


_QSK_QUANTILES = [0.25, 0.5, 0.9, 0.99]

_QSK_SQL = f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
bounds AS (
  SELECT MIN(cents) AS lo, MAX(cents) AS hi,
         MAX(cents) - MIN(cents) + 1 AS width
  FROM c
),
hist AS (
  SELECT (c.cents - b.lo) * {QSK_BINS} // b.width AS bin, COUNT(*) AS cnt
  FROM c CROSS JOIN bounds b GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
),
tgt AS (
  SELECT q, CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT) AS target
  FROM (SELECT SUM(cnt) AS n FROM hist)
  CROSS JOIN UNNEST([{", ".join(str(q) for q in _QSK_QUANTILES)}]) AS t(q)
)
SELECT CAST(tgt.q AS DOUBLE) AS q,
       round((CAST(b.lo AS DOUBLE)
         + CAST(cum.bin AS DOUBLE) * CAST(b.width AS DOUBLE) / {QSK_BINS}.0e0
         + (CAST(tgt.target AS DOUBLE) - (CAST(cum.cum AS DOUBLE)
         - CAST(cum.cnt AS DOUBLE))) / CAST(cum.cnt AS DOUBLE)
         * (CAST(b.width AS DOUBLE) / {QSK_BINS}.0e0)) / 100.0e0, 9)
         AS est_value
FROM tgt
JOIN cum ON cum.cum >= tgt.target AND cum.cum - cum.cnt < tgt.target
CROSS JOIN bounds b
"""


@query("agg_quantile_sketch_portable", _QSK_SQL)
def agg_quantile_sketch_portable(spark, sf_dir):
    """Mergeable fixed-width histogram quantile sketch, value-checked to
    the last bit — the portable alternative to approx_percentile (whose
    GK/KLL internals are engine-private and forever rows-only). Binning
    is pure integer arithmetic over exact cents with bounds from one
    cheap min/max pass — a LAZY broadcast scalar since r16 (was an eager
    `.first()` gating construction with an extra sequential driver job;
    VERDICT r15 #6; bin values unchanged: exact bigint columns vs exact
    bigint literals). A production deployment pins bounds a priori, so
    per-shard histograms merge by counter SUM —
    tests/test_sketches.py::test_quantile_sketch_merge; the estimate
    interpolates inside the rank-containing bin with left-to-right
    double arithmetic identical to the oracle. B rows of state whatever
    the corpus size."""
    from arangodb_java_parquet_spark.operators.sketches import (
        quantile_sketch_bounds, quantile_sketch_estimate,
        quantile_sketch_hist)
    o = t(spark, sf_dir, "orders")
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    # bounds feeds the bin expression AND the estimate interpolation,
    # hist feeds the cumulative walk AND the rank targets — materialize
    # both (1-row / B-row normalizer class) or each consumer re-scans
    # orders (10 parquet scans vs 4 in the first r16 plan; isolated time
    # is flat either way at sf0.1 — the scans are the right thing to cut
    # at scale)
    bounds = (quantile_sketch_bounds(o, cents)
              .transform(materialize, "scalar"))
    hist = (quantile_sketch_hist(o, cents, bounds=bounds)
            .transform(materialize, "scalar"))
    return quantile_sketch_estimate(hist, quantiles=_QSK_QUANTILES,
                                    bounds=bounds)


_HSA_A = "1-URGENT"
_HSA_B = "2-HIGH"


def _hsa_sql() -> str:
    from arangodb_java_parquet_spark.operators.sketches import (
        hll_estimate_from_regs_sql, hll_rho_select_sql)
    return f"""
WITH src AS (
  SELECT CASE WHEN o_orderpriority = '{_HSA_A}' THEN 'A' ELSE 'B' END AS tag,
         o_custkey
  FROM orders
  WHERE o_orderpriority IN ('{_HSA_A}', '{_HSA_B}')
),
rho AS (
  {hll_rho_select_sql("o_custkey", "tag", "src")}
),
regs AS (
  SELECT tag, bucket, MAX(rho) AS r FROM rho GROUP BY tag, bucket
),
all_regs AS (
  SELECT tag, bucket, r FROM regs
  UNION ALL
  SELECT 'AuB' AS tag, bucket, MAX(r) AS r FROM regs GROUP BY bucket
),
est AS ({hll_estimate_from_regs_sql("tag", "all_regs")}),
flags AS (
  SELECT o_custkey,
         MAX(CASE WHEN tag = 'A' THEN 1 ELSE 0 END) AS fa,
         MAX(CASE WHEN tag = 'B' THEN 1 ELSE 0 END) AS fb
  FROM src GROUP BY o_custkey
),
exact AS (
  SELECT CAST(SUM(fa) AS BIGINT) AS exact_a,
         CAST(SUM(fb) AS BIGINT) AS exact_b,
         CAST(COUNT(*) AS BIGINT) AS exact_union,
         CAST(SUM(fa * fb) AS BIGINT) AS exact_intersection
  FROM flags
)
SELECT w.est_a, w.est_b, w.est_union,
       ROUND(w.est_a + w.est_b - w.est_union, 9) AS est_intersection,
       exact.exact_a, exact.exact_b, exact.exact_union,
       exact.exact_intersection
FROM (
  SELECT MAX(CASE WHEN tag = 'A' THEN est_distinct END) AS est_a,
         MAX(CASE WHEN tag = 'B' THEN est_distinct END) AS est_b,
         MAX(CASE WHEN tag = 'AuB' THEN est_distinct END) AS est_union
  FROM est
) w CROSS JOIN exact
"""


@query("agg_hll_set_algebra", _hsa_sql())
def agg_hll_set_algebra(spark, sf_dir):
    """Distinct-set ALGEBRA on HLL sketches, value-checked end to end:
    union cardinality by register MAX-merge (the lossless HLL union) and
    intersection by inclusion-exclusion over the three estimates — the
    classic 'unique customers in segment A and B' question answered from
    constant-size sketches instead of a re-scan, with the exact answers
    alongside for audit. At 100 TB the registers per segment are 64 rows
    each; computing any boolean combination of segments never touches the
    fact table again. (Inclusion-exclusion error grows as the
    intersection shrinks relative to the union — the standard caveat,
    visible here by comparing est vs exact columns.)"""
    o = t(spark, sf_dir, "orders")
    src = (o.filter(F.col("o_orderpriority").isin(_HSA_A, _HSA_B))
           .select(F.when(F.col("o_orderpriority") == _HSA_A, "A")
                   .otherwise("B").alias("tag"), "o_custkey"))
    regs = hll_registers(src, "o_custkey", ["tag"])
    union_regs = (regs.groupBy("bucket").agg(F.max("r").alias("r"))
                  .select(F.lit("AuB").alias("tag"), "bucket", "r"))
    est = hll_estimate(regs.select("tag", "bucket", "r")
                       .unionByName(union_regs), ["tag"])
    wide = est.agg(
        F.max(F.when(F.col("tag") == "A", F.col("est_distinct")))
        .alias("est_a"),
        F.max(F.when(F.col("tag") == "B", F.col("est_distinct")))
        .alias("est_b"),
        F.max(F.when(F.col("tag") == "AuB", F.col("est_distinct")))
        .alias("est_union"))
    wide = wide.select(
        "est_a", "est_b", "est_union",
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 9)
        .alias("est_intersection"))
    flags = (src.groupBy("o_custkey")
             .agg(F.max(F.when(F.col("tag") == "A", 1).otherwise(0))
                  .alias("fa"),
                  F.max(F.when(F.col("tag") == "B", 1).otherwise(0))
                  .alias("fb")))
    exact = flags.agg(
        F.sum("fa").cast("bigint").alias("exact_a"),
        F.sum("fb").cast("bigint").alias("exact_b"),
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
        F.sum(F.col("fa") * F.col("fb")).cast("bigint")
        .alias("exact_intersection"))
    return wide.crossJoin(exact)


def _rolling_hll_sql() -> str:
    from arangodb_java_parquet_spark.operators.sketches import (
        hll_estimate_from_regs_sql, hll_rho_select_sql)
    return f"""
WITH src AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events
),
rho AS (
  {hll_rho_select_sql("user_id", "day", "src")}
),
regs AS (
  SELECT day, bucket, MAX(rho) AS r FROM rho GROUP BY day, bucket
),
contrib AS (
  SELECT day + CAST(off AS INT) AS target_day, bucket, r
  FROM regs CROSS JOIN UNNEST(range(0, 7)) AS t(off)
),
merged AS (
  SELECT target_day, bucket, MAX(r) AS r
  FROM contrib GROUP BY target_day, bucket
),
est AS ({hll_estimate_from_regs_sql("target_day", "merged")})
SELECT target_day, est_distinct AS wau_est FROM est
"""


@query("rolling_hll_distinct_users", _rolling_hll_sql())
def rolling_hll_distinct_users(spark, sf_dir):
    """Rolling 7-day distinct users from SKETCHES — the production form
    of rolling_wau_distinct at 100 TB: per-day HLL registers (64 rows per
    day, built map-side once) explode onto the 7 window end-days they
    contribute to and MAX-merge per target day, so the rolling-distinct
    never re-touches raw events or even the deduplicated (user, day)
    pairs — just 7×64 register rows per day. Estimates are bit-exact
    cross-engine (portable HLL layout); accuracy vs the exact WAU is the
    standard ~1.04/√64 band. Swap the window length by changing one
    explode bound; month/quarter rollups reuse the same per-day
    registers."""
    from arangodb_java_parquet_spark.operators.sketches import (
        hll_estimate, hll_registers)
    e = t(spark, sf_dir, "events")
    src = e.select(F.date_trunc("day", "ts").cast("date").alias("day"),
                   "user_id")
    regs = hll_registers(src, "user_id", ["day"])
    contrib = regs.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6)))
        .alias("target_day"), "bucket", "r")
    merged = (contrib.groupBy("target_day", "bucket")
              .agg(F.max("r").alias("r")))
    return (hll_estimate(merged, ["target_day"])
            .withColumnRenamed("est_distinct", "wau_est"))


_CMS_JOIN_SQL = f"""
WITH ta AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  WHERE doc_id % 2 = 0
),
tb AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  WHERE doc_id % 2 = 1
),
ca AS (
  SELECT r, c, COUNT(*) AS cnt
  FROM (SELECT UNNEST([{", ".join(cms_pos_sql("tok", r)
                                  for r in range(CMS_DEPTH))}]) AS c,
               UNNEST([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS r
        FROM ta)
  GROUP BY r, c
),
cb AS (
  SELECT r, c, COUNT(*) AS cnt
  FROM (SELECT UNNEST([{", ".join(cms_pos_sql("tok", r)
                                  for r in range(CMS_DEPTH))}]) AS c,
               UNNEST([{", ".join(str(r) for r in range(CMS_DEPTH))}]) AS r
        FROM tb)
  GROUP BY r, c
),
inner_p AS (
  SELECT ca.r, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS ip
  FROM ca JOIN cb ON cb.r = ca.r AND cb.c = ca.c
  GROUP BY ca.r
),
exact AS (
  SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS true_join_size
  FROM (SELECT tok, COUNT(*) AS c FROM ta GROUP BY tok) a
  JOIN (SELECT tok, COUNT(*) AS c FROM tb GROUP BY tok) b
    ON b.tok = a.tok
)
SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size,
       MAX(exact.true_join_size) AS true_join_size,
       MIN(ip) >= MAX(exact.true_join_size) AS never_underestimates
FROM inner_p CROSS JOIN exact
"""


@query("cms_join_size_estimate", _CMS_JOIN_SQL)
def cms_join_size_estimate(spark, sf_dir):
    """JOIN-SIZE estimation from sketches — the classic count-min inner
    product: |A ⋈ B| on a key = Σ_k cntA(k)·cntB(k), estimated as the
    min over sketch rows of Σ_c cmsA[r,c]·cmsB[r,c], never below the
    truth (shown as a checked column, exact answer alongside). This is
    what a 100 TB optimizer consults before choosing a join strategy:
    two depth×width tables and a 1024-row join replace touching either
    input again. All exact integer arithmetic — the whole estimator is
    hash-checked."""
    from arangodb_java_parquet_spark.operators.sketches import cms_build
    d = t(spark, sf_dir, "documents")
    ta = (d.filter(F.col("doc_id") % 2 == 0)
          .select(F.explode(F.split("text", " ")).alias("tok")))
    tb = (d.filter(F.col("doc_id") % 2 == 1)
          .select(F.explode(F.split("text", " ")).alias("tok")))
    ca, cb = cms_build(ta, "tok"), cms_build(tb, "tok")
    ip = (ca.join(cb.withColumnRenamed("cnt", "cnt_b"), ["r", "c"])
          .groupBy("r")
          .agg(F.sum(F.col("cnt") * F.col("cnt_b")).cast("bigint")
               .alias("ip")))
    exact = (ta.groupBy("tok").agg(F.count(F.lit(1)).alias("c_a"))
             .join(tb.groupBy("tok").agg(F.count(F.lit(1)).alias("c_b")),
                   "tok")
             .agg(F.sum(F.col("c_a") * F.col("c_b")).cast("bigint")
                  .alias("true_join_size")))
    return (ip.crossJoin(F.broadcast(exact))
            .agg(F.min("ip").cast("bigint").alias("est_join_size"),
                 F.max("true_join_size").alias("true_join_size"),
                 (F.min("ip") >= F.max("true_join_size"))
                 .alias("never_underestimates")))


# ---------------------------------------------------------------------------
# AMS F2 (second frequency moment) sketch (round 7)
# ---------------------------------------------------------------------------

_AMS_K = 16  # independent +-1 estimators


def _ams_sql() -> str:
    # one estimator: S_j = sum over tokens of sign_j(tok) * count(tok),
    # sign_j in {-1,+1} from an md5 bit — integer-exact until the final
    # normalized square. Estimate of sum(p^2) = mean_j (S_j / N)^2.
    est = ", ".join(
        f"""CAST(SUM((CAST('0x' || substring(md5(tok || ':{j}'), 1, 8)
                      AS BIGINT) % 2 * 2 - 1) * c) AS BIGINT) AS s{j}"""
        for j in range(_AMS_K))
    mean = " + ".join(
        f"(CAST(s{j} AS DOUBLE) / n) * (CAST(s{j} AS DOUBLE) / n)"
        for j in range(_AMS_K))
    return f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * c) AS BIGINT) AS f2 FROM cnt),
sketch AS (SELECT {est} FROM cnt)
SELECT t.n AS n_tokens,
       CAST(t.f2 AS DOUBLE) / t.n / t.n AS exact_sum_p2,
       ({mean}) / {_AMS_K} AS ams_sum_p2,
       (({mean}) / {_AMS_K})
         / (CAST(t.f2 AS DOUBLE) / t.n / t.n) - 1e0 AS rel_error
FROM tot t CROSS JOIN sketch
"""


@query("agg_ams_f2_sketch", _ams_sql())
def agg_ams_f2_sketch(spark, sf_dir):
    """Alon-Matias-Szegedy F2 sketch (STOC 1996): the second frequency
    moment sum(p_i^2) — the corpus' token collision probability /
    Simpson concentration, and the join-size primitive behind CMS inner
    products — estimated by 16 independent +-1 random-sign estimators
    (sign = an md5 bit per (token, estimator)). Each estimator's signed
    count sum is INTEGER-exact (a BIGINT sum), so the sketch is
    bit-portable across engines; only the final normalized squares are
    doubles, derived identically. Output carries the exact moment, the
    sketch estimate, and its relative error — the sketch grades itself.

    Scale: one combinable count per token, then one combinable signed
    sum per estimator; 16 integers of state total. Mergeable (signed
    sums add across shards)."""
    d = t(spark, sf_dir, "documents")
    cnt = (d.select(F.explode(F.split("text", " ")).alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))

    def sign(j):
        return (F.pmod(F.conv(F.substring(
            F.md5(F.concat(F.col("tok"), F.lit(f":{j}"))), 1, 8), 16, 10)
            .cast("long"), 2) * 2 - 1)

    sketch = cnt.agg(
        *[F.sum(sign(j) * F.col("c")).cast("bigint").alias(f"s{j}")
          for j in range(_AMS_K)])
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n"),
                  F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2"))
    joined = tot.crossJoin(F.broadcast(sketch))
    mean = None
    for j in range(_AMS_K):
        term = ((F.col(f"s{j}").cast("double") / F.col("n"))
                * (F.col(f"s{j}").cast("double") / F.col("n")))
        mean = term if mean is None else mean + term
    exact = F.col("f2").cast("double") / F.col("n") / F.col("n")
    est = mean / _AMS_K
    return joined.select(
        F.col("n").alias("n_tokens"),
        exact.alias("exact_sum_p2"),
        est.alias("ams_sum_p2"),
        (est / exact - F.lit(1.0)).alias("rel_error"))


# ---------------------------------------------------------------------------
# deterministic GK quantile summary (round 9 — VERDICT r8 item 7)
# ---------------------------------------------------------------------------

from arangodb_java_parquet_spark.operators.sketches import (  # noqa: E402
    gk_quantile_summary, gk_quantile_summary_sql)


@query("agg_quantile_gk_summary",
       gk_quantile_summary_sql("o_totalprice", "o_orderkey",
                               "o_orderpriority", "orders"))
def agg_quantile_gk_summary(spark, sf_dir):
    """Deterministic GK-register quantile summary per order priority —
    the VALUE-CHECKED Greenwald-Khanna twin of agg_approx_quantile
    (whose engine-private GK/KLL interpolation keeps it rows-only, the
    same relationship agg_hll_portable_registers has to
    approx_count_distinct). Per-shard sorted (v, g) register tuples,
    GK-merge by value-order cumulative g, integer-ratio quantile
    targets; the estimate is a raw data value, so both engines agree to
    the bit. Rank error <= shards*s, asserted against exact percentiles
    in tests/test_sketches.py. See operators/sketches.py for the
    plan-shape and 100 TB notes."""
    o = t(spark, sf_dir, "orders")
    return gk_quantile_summary(o, "o_totalprice", "o_orderkey",
                               "o_orderpriority")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with UNION / INTERSECTION algebra
# (round 11 — extends the mergeable-sketch family with set operations)
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SCALE = 1152921504606846976  # 2^60: 15 md5 hex digits, exact in double


def _kmv_set_sql(pri: str) -> str:
    return (f"SELECT DISTINCT CAST(CAST('0x' || "
            f"substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT)"
            f" AS BIGINT) AS h FROM orders WHERE o_orderpriority = '{pri}'")


def _kmv_est(hk: str, n: str) -> str:
    return (f"CASE WHEN {n} < {_KMV_K} THEN CAST({n} AS DOUBLE) "
            f"ELSE CAST({_KMV_K - 1} AS DOUBLE)"
            f" / ({hk} / {_KMV_SCALE}) END")


@query("sketch_kmv_distinct_ops", f"""
WITH a AS ({_kmv_set_sql('1-URGENT')}),
b AS ({_kmv_set_sql('2-HIGH')}),
ka AS (SELECT h FROM a ORDER BY h LIMIT {_KMV_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {_KMV_K}),
ku AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
       ORDER BY h LIMIT {_KMV_K}),
sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS hk FROM ka),
sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS hk FROM kb),
su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS hk FROM ku),
mem AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ku
  WHERE ku.h IN (SELECT h FROM a) AND ku.h IN (SELECT h FROM b)
),
ex AS (
  SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
         CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b
)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       ex.exact_a, ex.exact_b,
       {_kmv_est('sa.hk', 'sa.n')} AS est_a,
       {_kmv_est('sb.hk', 'sb.n')} AS est_b,
       {_kmv_est('su.hk', 'su.n')} AS est_union,
       CAST(mem.n_both AS DOUBLE) / su.n AS kmv_jaccard,
       (CAST(mem.n_both AS DOUBLE) / su.n)
         * ({_kmv_est('su.hk', 'su.n')}) AS est_intersection
FROM sa CROSS JOIN sb CROSS JOIN su CROSS JOIN mem CROSS JOIN ex
""")
def sketch_kmv_distinct_ops(spark, sf_dir):
    """KMV (k-minimum-values) distinct sketch with SET ALGEBRA (Bar-Yossef
    et al. 2002; Beyer et al. 2007 for the unbiased (k-1)/u_k estimator
    and the union/intersection extension): keep the k smallest md5-hash
    values of each set; D-hat = (k-1)/u_k where u_k is the k-th smallest
    normalized hash. The union sketch is the k smallest of the merged
    hash sets (KMV is closed under union — the property HLL set algebra
    lacks for INTERSECTION), and the Jaccard estimate is the fraction of
    the union sketch's members present in both sets, giving
    |A∩B|-hat = J-hat · |A∪B|-hat. Sets: customers with URGENT vs HIGH
    orders. Degenerate small sets (n < k) fall back to the exact
    cardinality (the sketch IS the set).

    Determinism: hashes are 60-bit integers from 15 md5 hex digits;
    normalization divides by the exact binary 2^60, so every estimate is
    a short chain of IEEE-identical double ops — the sketch, not just
    its row count, is value-checked (same contract as the portable
    HLL/CMS/AMS/GK entries).

    Scale: the k-min selection is a distributed TakeOrdered (top-k per
    partition, k-merge on the driver side of the exchange) — never a
    global sort; membership tests broadcast the 64-row union sketch
    against the hash sets. Sketch state is k numbers per set: shards
    merge by unioning sketches and re-taking the k minimum."""
    o = t(spark, sf_dir, "orders")

    def hset(pri):
        return (o.filter(F.col("o_orderpriority") == pri)
                .select(F.conv(F.substring(
                    F.md5(F.col("o_custkey").cast("string")), 1, 15),
                    16, 10).cast("bigint").alias("h"))
                .distinct()
                .transform(materialize))  # feeds sketch + membership

    a, b = hset("1-URGENT"), hset("2-HIGH")
    u = a.unionByName(b).distinct()

    def sk(df, nc, hc):
        return (df.orderBy("h").limit(_KMV_K)
                .agg(F.count(F.lit(1)).cast("bigint").alias(nc),
                     F.max("h").alias(hc)))

    def est(nc, hc):
        return (F.when(F.col(nc) < _KMV_K, F.col(nc).cast("double"))
                .otherwise(F.lit(_KMV_K - 1).cast("double")
                           / (F.col(hc) / F.lit(_KMV_SCALE))))

    ku = u.orderBy("h").limit(_KMV_K).transform(materialize)
    su = ku.agg(F.count(F.lit(1)).cast("bigint").alias("nu"),
                F.max("h").alias("hu"))
    mem = (ku.join(a, "h", "left_semi").join(b, "h", "left_semi")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_both")))
    ex = (a.agg(F.count(F.lit(1)).cast("bigint").alias("exact_a"))
          .crossJoin(F.broadcast(
              b.agg(F.count(F.lit(1)).cast("bigint").alias("exact_b")))))
    jacc = F.col("n_both").cast("double") / F.col("nu")
    return (sk(a, "na", "ha")
            .crossJoin(F.broadcast(sk(b, "nb", "hb")))
            .crossJoin(F.broadcast(su))
            .crossJoin(F.broadcast(mem))
            .crossJoin(F.broadcast(ex))
            .select(F.lit(_KMV_K).cast("bigint").alias("k"),
                    "exact_a", "exact_b",
                    est("na", "ha").alias("est_a"),
                    est("nb", "hb").alias("est_b"),
                    est("nu", "hu").alias("est_union"),
                    jacc.alias("kmv_jaccard"),
                    (jacc * est("nu", "hu")).alias("est_intersection")))
