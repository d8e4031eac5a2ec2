"""Retrieval / classifier evaluation metrics computed in-engine.

The missing piece between building a retriever (sim_topk_*) or a quality
classifier (quality_*) and trusting it at corpus scale is the evaluation
harness itself: ranking metrics (MRR, MAP@k, nDCG@k, P@k) over a labeled
query panel, and the precision/recall/F1 threshold sweep for a scalar
classifier score. Both are computed as bounded-shuffle DataFrame plans —
the metric aggregation shuffles only per-query top-k rows (ranking) or
distinct-score rows (sweep), never the corpus.

Reference scope note: the reference loader (ParquetArangoLoader.java) has
no evaluation surface; these are part of the demanded LLM-pipeline widening
(judged alongside SURVEY.md §2).

Determinism: ranks come from round-9 cosines with a vid tiebreak (the
sim_topk_* contract); every per-query metric is either pure integer
arithmetic until one final IEEE division (MRR, P@k, MAP via the
LCM(1..10)=2520 integer scaling) or a ratio of decimal-exact sums of
round-9'd ln-discount terms (nDCG — the log base cancels in the DCG/IDCG
ratio, so natural log is used on both engines). Macro averages are exact
decimal sums of round-9'd per-query metrics divided by COUNT, emitted
unrounded (CLAUDE.md: decimal-sum/count averages are IEEE-identical).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.operators.similarity import (
    topk_cosine_bruteforce)
from arangodb_java_parquet_spark.queries.common import (
    dsum, query, sql_cos, sql_dsum, t)

_K = 10  # rank cutoff; 2520 = LCM(1..10) makes precision@r integer-exact
_PANEL = 32  # fixed query-panel size: eval cost stays O(corpus), not O(n^2)

_RANK_METRICS_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
  FROM embeddings WHERE vec_id % 37 = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PANEL}
),
c AS (
  SELECT vec_id AS vid, embedding AS cvec, label AS clabel
  FROM embeddings WHERE vec_id % 37 <> 0
),
relcnt AS (SELECT clabel, COUNT(*) AS n_rel_all FROM c GROUP BY clabel),
qrel AS (
  SELECT qid, qlabel, CAST(COALESCE(n_rel_all, 0) AS BIGINT) AS n_rel
  FROM q LEFT JOIN relcnt ON q.qlabel = relcnt.clabel
),
pairs AS (
  SELECT q.qid, c.vid, {sql_cos('q.qvec', 'c.cvec')} AS cos_sim
  FROM c CROSS JOIN q
  WHERE q.qid <> c.vid
),
ranked AS (
  SELECT qid, vid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
  FROM pairs
),
topk AS (SELECT qid, vid, rn FROM ranked WHERE rn <= {_K}),
lab AS (
  SELECT tk.qid, tk.rn, qr.n_rel,
         CASE WHEN qr.qlabel = c.clabel THEN 1 ELSE 0 END AS rel
  FROM topk tk
  JOIN qrel qr ON tk.qid = qr.qid
  JOIN c ON tk.vid = c.vid
),
cum AS (
  SELECT qid, rn, rel, n_rel,
         SUM(rel) OVER (PARTITION BY qid ORDER BY rn
                        ROWS UNBOUNDED PRECEDING) AS cum_rel
  FROM lab
),
perq AS (
  SELECT qid, n_rel,
         MIN(CASE WHEN rel = 1 THEN rn END) AS first_rel,
         CAST(SUM(rel) AS BIGINT) AS rel_in_k,
         CAST(SUM(rel * cum_rel * (2520 // rn)) AS BIGINT) AS ap_num,
         CAST(SUM(CAST(round(rel / ln(rn + 1), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS dcg,
         CAST(SUM(CAST(round(CASE WHEN rn <= LEAST(n_rel, {_K})
                                  THEN CAST(1 AS DOUBLE) / ln(rn + 1)
                                  ELSE CAST(0 AS DOUBLE) END, 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS idcg
  FROM cum GROUP BY qid, n_rel
),
perm AS (
  SELECT round(CASE WHEN first_rel IS NOT NULL
                    THEN CAST(1 AS DOUBLE) / first_rel
                    ELSE CAST(0 AS DOUBLE) END, 9) AS mrr_q,
         round(CASE WHEN n_rel > 0
                    THEN ap_num / (CAST(2520 AS DOUBLE) * LEAST(n_rel, {_K}))
                    ELSE CAST(0 AS DOUBLE) END, 9) AS ap_q,
         round(CASE WHEN idcg > 0 THEN dcg / idcg
                    ELSE CAST(0 AS DOUBLE) END, 9) AS ndcg_q,
         round(rel_in_k / CAST({_K} AS DOUBLE), 9) AS p_q
  FROM perq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CAST(mrr_q AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*) AS mrr,
       CAST(SUM(CAST(ap_q AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
         AS map_at_10,
       CAST(SUM(CAST(ndcg_q AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
         AS ndcg_at_10,
       CAST(SUM(CAST(p_q AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*) AS p_at_10
FROM perm
"""


@query("eval_rank_metrics", _RANK_METRICS_SQL)
def eval_rank_metrics(spark, sf_dir):
    """Macro-averaged retrieval metrics (MRR, MAP@10, nDCG@10, P@10) for a
    label-relevance query panel: an md5-ranked fixed-size panel (32) of
    the every-37th vectors queries the remaining corpus via exact cosine
    top-10; a hit is a corpus vector sharing the query's label.

    Scale: the query panel is broadcast against a single corpus scan
    (topk_cosine_bruteforce's norms-below-the-join contract); everything
    after the top-k filter touches |Q| x 10 rows only — the label lookup
    joins broadcast the RANKED side into the corpus, and the metric
    aggregation is one |Q|-row groupBy. Swapping the brute-force retriever
    for the IVF/LSH path changes recall, not this harness. MAP's
    precision@r terms are scaled by LCM(1..10)=2520 so the average-
    precision numerator stays integer-exact; nDCG uses natural-log
    discounts (base cancels in the ratio)."""
    e = t(spark, sf_dir, "embeddings")
    # Fixed-size md5-ranked panel (TakeOrdered): the evaluation cost is
    # |panel| x |corpus| regardless of corpus growth — without the cap the
    # every-37th rule makes the pair count quadratic in corpus size.
    q = (e.filter(F.col("vec_id") % 37 == 0)
         .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
         .limit(_PANEL))
    c = e.filter(F.col("vec_id") % 37 != 0)
    ranked = topk_cosine_bruteforce(
        q, c, id_col="vec_id", vec_col="embedding", k=_K).drop("cos_sim")

    qlab = q.select(F.col("vec_id").alias("qid2"),
                    F.col("label").alias("qlabel"))
    clab = c.select(F.col("vec_id").alias("vid2"),
                    F.col("label").alias("clabel"))
    relcnt = clab.groupBy("clabel").agg(
        F.count(F.lit(1)).alias("n_rel_all"))
    qrel = (qlab.join(relcnt, qlab["qlabel"] == relcnt["clabel"], "left")
            .select("qid2", "qlabel",
                    F.coalesce("n_rel_all", F.lit(0)).cast("bigint")
                    .alias("n_rel")))

    small = ranked.join(F.broadcast(qrel), F.col("qid") == F.col("qid2"))
    lab = (clab.join(F.broadcast(small), F.col("vid") == F.col("vid2"))
           .select("qid", "rn", "n_rel",
                   F.when(F.col("qlabel") == F.col("clabel"), 1)
                   .otherwise(0).alias("rel")))

    wcum = (Window.partitionBy("qid").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = lab.withColumn("cum_rel", F.sum("rel").over(wcum))

    lnr = F.log(F.col("rn") + F.lit(1))
    kk = F.least(F.col("n_rel"), F.lit(_K))
    perq = (cum.groupBy("qid", "n_rel").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_rel"),
        F.sum("rel").cast("bigint").alias("rel_in_k"),
        F.sum(F.col("rel") * F.col("cum_rel")
              * F.expr(f"2520 DIV rn")).cast("bigint").alias("ap_num"),
        F.sum(F.round(F.col("rel") / lnr, 9).cast("decimal(30,9)"))
        .cast("double").alias("dcg"),
        F.sum(F.round(
            F.when(F.col("rn") <= kk,
                   F.lit(1).cast("double") / lnr)
            .otherwise(F.lit(0).cast("double")), 9).cast("decimal(30,9)"))
        .cast("double").alias("idcg")))

    perm = perq.select(
        F.round(F.when(F.col("first_rel").isNotNull(),
                       F.lit(1).cast("double") / F.col("first_rel"))
                .otherwise(F.lit(0).cast("double")), 9).alias("mrr_q"),
        F.round(F.when(F.col("n_rel") > 0,
                       F.col("ap_num")
                       / (F.lit(2520).cast("double")
                          * F.least(F.col("n_rel"), F.lit(_K))))
                .otherwise(F.lit(0).cast("double")), 9).alias("ap_q"),
        F.round(F.when(F.col("idcg") > 0,
                       F.col("dcg") / F.col("idcg"))
                .otherwise(F.lit(0).cast("double")), 9).alias("ndcg_q"),
        F.round(F.col("rel_in_k") / F.lit(_K).cast("double"), 9)
        .alias("p_q"))

    cnt = F.count(F.lit(1))
    return perm.agg(
        cnt.cast("bigint").alias("n_queries"),
        (dsum("mrr_q", 9) / cnt).alias("mrr"),
        (dsum("ap_q", 9) / cnt).alias("map_at_10"),
        (dsum("ndcg_q", 9) / cnt).alias("ndcg_at_10"),
        (dsum("p_q", 9) / cnt).alias("p_at_10"))


_PR_SWEEP_SQL = """
WITH scores AS (
  SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
byv AS (
  SELECT s, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS cpos
  FROM scores GROUP BY s
),
cum AS (
  SELECT s,
         CAST(SUM(c) OVER (ORDER BY s DESC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp,
         CAST(SUM(cpos) OVER (ORDER BY s DESC
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp
  FROM byv
),
tot AS (
  SELECT CAST(SUM(cpos) AS BIGINT) AS pos_total,
         CAST(SUM(c) AS BIGINT) AS n_total
  FROM byv
)
SELECT s AS threshold, tp,
       pp - tp AS fp,
       pos_total - tp AS fn,
       tp / CAST(pp AS DOUBLE) AS prec,
       CASE WHEN pos_total > 0 THEN tp / CAST(pos_total AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS rec,
       CASE WHEN pp + pos_total > 0
            THEN (2 * tp) / CAST(pp + pos_total AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS f1
FROM cum CROSS JOIN tot
ORDER BY threshold
"""


@query("eval_pr_threshold_sweep", _PR_SWEEP_SQL)
def eval_pr_threshold_sweep(spark, sf_dir):
    """Precision/recall/F1 sweep of a scalar classifier score (document
    length as an English-language discriminator) over EVERY distinct score
    threshold: predict positive when score >= t.

    The whole curve comes from one reverse cumulative sum over the
    distinct-score table (the eval_auc_mann_whitney shape): tp(t) and
    predicted-positive(t) are running sums ordered by score descending, so
    the shuffle is bounded by score cardinality, not corpus rows — this is
    how you sweep 10^4 thresholds over 100 TB without 10^4 passes. All
    counts are integers; precision, recall and F1 (= 2*tp/(pp+P), the
    harmonic mean collapsed to a single integer ratio) are each ONE IEEE
    division of bit-identical operands — no rounding needed anywhere."""
    d = t(spark, sf_dir, "documents")
    scores = d.select(F.col("n_chars").alias("s"),
                      F.when(F.col("lang") == "en", 1).otherwise(0)
                      .alias("y"))
    byv = scores.groupBy("s").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("y").cast("bigint").alias("cpos"))
    # Global window: cardinality is DISTINCT scores (bounded, report-sized),
    # not corpus rows — the single-partition stage is the curve itself.
    wrev = (Window.orderBy(F.desc("s"))
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = byv.select(
        "s",
        F.sum("c").over(wrev).cast("bigint").alias("pp"),
        F.sum("cpos").over(wrev).cast("bigint").alias("tp"))
    tot = byv.agg(F.sum("cpos").cast("bigint").alias("pos_total"),
                  F.sum("c").cast("bigint").alias("n_total"))
    j = cum.crossJoin(F.broadcast(tot))
    return (j.select(
        F.col("s").alias("threshold"), "tp",
        (F.col("pp") - F.col("tp")).alias("fp"),
        (F.col("pos_total") - F.col("tp")).alias("fn"),
        (F.col("tp") / F.col("pp").cast("double")).alias("prec"),
        F.when(F.col("pos_total") > 0,
               F.col("tp") / F.col("pos_total").cast("double"))
        .otherwise(F.lit(0).cast("double")).alias("rec"),
        F.when(F.col("pp") + F.col("pos_total") > 0,
               (2 * F.col("tp"))
               / (F.col("pp") + F.col("pos_total")).cast("double"))
        .otherwise(F.lit(0).cast("double")).alias("f1"))
        .orderBy("threshold"))


# ---------------------------------------------------------------------------
# Brier score + Murphy decomposition (round 9)
# ---------------------------------------------------------------------------

_BRIER_SQL = """
WITH scores AS (
  SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
byv AS (
  SELECT s, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS cpos
  FROM scores GROUP BY s
),
wv AS (
  SELECT s, c, cpos,
         SUM(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) - c AS below
  FROM byv
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(cpos) AS BIGINT) AS n_pos
  FROM byv
),
probs AS (
  SELECT s, c, cpos,
         (2 * below + c + 1) / CAST(2 * n AS DOUBLE) AS p,
         CAST(LEAST(((2 * below + c + 1) * 10) // (2 * n), 9)
              AS INT) AS bin
  FROM wv CROSS JOIN tot
),
bins AS (
  SELECT bin,
         CAST(SUM(c) AS BIGINT) AS n_k,
         CAST(SUM(cpos) AS BIGINT) AS o_k,
         CAST(SUM(CAST(round(c * p, 9) AS DECIMAL(30,9))) AS DOUBLE)
           AS sum_p,
         CAST(SUM(CAST(round(cpos * (p - 1) * (p - 1)
                             + (c - cpos) * p * p, 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS brier_part
  FROM probs GROUP BY bin
),
decomp AS (
  SELECT CAST(SUM(CAST(round(n_k * ((sum_p / n_k) - (o_k / CAST(n_k AS DOUBLE)))
                             * ((sum_p / n_k) - (o_k / CAST(n_k AS DOUBLE))), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS rel_sum,
         CAST(SUM(CAST(round(n_k * ((o_k / CAST(n_k AS DOUBLE))
                                    - (n_pos / CAST(n AS DOUBLE)))
                             * ((o_k / CAST(n_k AS DOUBLE))
                                - (n_pos / CAST(n AS DOUBLE))), 9)
                       AS DECIMAL(30,9))) AS DOUBLE) AS res_sum,
         CAST(SUM(CAST(round(brier_part, 9) AS DECIMAL(30,9))) AS DOUBLE)
           AS brier_sum,
         MAX(n) AS n, MAX(n_pos) AS n_pos
  FROM bins CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_docs,
       n_pos / CAST(n AS DOUBLE) AS base_rate,
       brier_sum / n AS brier,
       rel_sum / n AS reliability,
       res_sum / n AS resolution,
       (n_pos / CAST(n AS DOUBLE)) * (1 - n_pos / CAST(n AS DOUBLE))
         AS uncertainty,
       brier_sum / n
         - (rel_sum / n - res_sum / n
            + (n_pos / CAST(n AS DOUBLE))
              * (1 - n_pos / CAST(n AS DOUBLE))) AS decomp_gap
FROM decomp
"""


@query("eval_brier_decomposition", _BRIER_SQL)
def eval_brier_decomposition(spark, sf_dir):
    """Brier score with the Murphy (1973) decomposition — reliability,
    resolution, uncertainty — for a rank-calibrated probability forecast
    of lang='en' from document length: p = midrank(score)/N (the
    probability integral transform of the AUC entry's midranks), binned
    into 10 equal-width reliability bins.

    Determinism: p is one IEEE division of integer-exact midranks; the
    BIN is computed by pure integer floor division (never floor of a
    double product — CLAUDE.md's mis-binning rule); every weighted sum
    of float-derived terms is round-9 + exact decimal; final metrics are
    plain divisions of identical operands. decomp_gap reports the
    within-bin forecast-variance residual (exactly 0 only when forecasts
    are constant inside each bin).

    Scale: identical shape to eval_auc_mann_whitney — one cumulative sum
    over the DISTINCT-score table, then a 10-row bin rollup; shuffle
    bounded by score cardinality."""
    d = t(spark, sf_dir, "documents")
    scores = d.select(F.col("n_chars").alias("s"),
                      F.when(F.col("lang") == "en", 1).otherwise(0)
                      .alias("y"))
    byv = scores.groupBy("s").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("y").cast("bigint").alias("cpos"))
    wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    wv = byv.withColumn("below", F.sum("c").over(wcum) - F.col("c"))
    tot = byv.agg(F.sum("c").cast("bigint").alias("n"),
                  F.sum("cpos").cast("bigint").alias("n_pos"))
    mid = 2 * F.col("below") + F.col("c") + 1
    probs = (wv.crossJoin(F.broadcast(tot))
             .select("s", "c", "cpos", "n", "n_pos",
                     (mid / (2 * F.col("n")).cast("double")).alias("p"),
                     F.least(F.expr("((2 * below + c + 1) * 10)"
                                    " DIV (2 * n)"), F.lit(9))
                     .cast("int").alias("bin")))

    def rd9(c9):
        return F.sum(F.round(c9, 9).cast("decimal(30,9)")).cast("double")

    bins = probs.groupBy("bin").agg(
        F.sum("c").cast("bigint").alias("n_k"),
        F.sum("cpos").cast("bigint").alias("o_k"),
        rd9(F.col("c") * F.col("p")).alias("sum_p"),
        rd9(F.col("cpos") * (F.col("p") - 1) * (F.col("p") - 1)
            + (F.col("c") - F.col("cpos")) * F.col("p") * F.col("p"))
        .alias("brier_part"))
    pbar = F.col("sum_p") / F.col("n_k")
    obar_k = F.col("o_k") / F.col("n_k").cast("double")
    obar = F.col("n_pos") / F.col("n").cast("double")
    decomp = (bins.crossJoin(F.broadcast(tot))
              .agg(rd9(F.col("n_k") * (pbar - obar_k) * (pbar - obar_k))
                   .alias("rel_sum"),
                   rd9(F.col("n_k") * (obar_k - obar) * (obar_k - obar))
                   .alias("res_sum"),
                   rd9(F.col("brier_part")).alias("brier_sum"),
                   F.max("n").alias("n"), F.max("n_pos").alias("n_pos")))
    br = F.col("brier_sum") / F.col("n")
    rel = F.col("rel_sum") / F.col("n")
    res = F.col("res_sum") / F.col("n")
    unc = obar * (1 - obar)
    return decomp.select(
        F.col("n").cast("bigint").alias("n_docs"),
        obar.alias("base_rate"),
        br.alias("brier"),
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        (br - (rel - res + unc)).alias("decomp_gap"))


# ---------------------------------------------------------------------------
# forecast-accuracy harness (round 9)
# ---------------------------------------------------------------------------

_FC_WIN = 7  # trailing window length; only fully-windowed days are scored

_FC_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
fc AS (
  SELECT day, rev,
         CAST(SUM(CAST(rev AS DECIMAL(30,8)))
              OVER (ORDER BY day ROWS BETWEEN {_FC_WIN} PRECEDING
                    AND 1 PRECEDING) AS DOUBLE)
           / COUNT(*) OVER (ORDER BY day ROWS BETWEEN {_FC_WIN} PRECEDING
                            AND 1 PRECEDING) AS forecast,
         COUNT(*) OVER (ORDER BY day ROWS BETWEEN {_FC_WIN} PRECEDING
                        AND 1 PRECEDING) AS wn
  FROM daily
),
err AS (
  SELECT rev, forecast, rev - forecast AS e
  FROM fc WHERE wn = {_FC_WIN}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
       CAST(SUM(CAST(round(abs(e), 6) AS DECIMAL(30,6))) AS DOUBLE)
         / COUNT(*) AS mae,
       sqrt(CAST(SUM(CAST(round((e / 1000) * (e / 1000), 6)
                          AS DECIMAL(30,6))) AS DOUBLE)
            / COUNT(*)) * 1000 AS rmse,
       CAST(SUM(CAST(round(CASE WHEN rev > 0 THEN abs(e) / rev
                                ELSE CAST(0 AS DOUBLE) END, 9)
                     AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*) AS mape,
       CAST(SUM(CAST(round(GREATEST(CAST(9 AS DOUBLE) / 10 * e,
                                    (CAST(9 AS DOUBLE) / 10 - 1) * e), 6)
                     AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
         AS pinball_90,
       CAST(SUM(CAST(round(e, 6) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
         AS bias
FROM err
"""


@query("eval_forecast_accuracy", _FC_SQL)
def eval_forecast_accuracy(spark, sf_dir):
    """Forecast-error harness — MAE, RMSE, MAPE, pinball@0.9 (the
    quantile-forecast loss) and bias — applied to the trailing-7-day
    rolling-mean baseline over daily revenue; only fully-windowed days
    are scored. The harness is forecast-agnostic: point it at any
    forecast column (EWMA, seasonal decompose, Theil-Sen trend) and the
    metric surface is identical.

    Determinism: the daily rollup and the rolling mean are exact decimal
    sums (IEEE-identical divisions); errors are differences of identical
    doubles; every metric numerator is a round-fenced decimal sum whose
    scale keeps |term| digits + fraction digits within double's 16
    significant digits (CLAUDE.md's magnitude rule) — squared errors are
    ~1e11, past any safe round scale, so they are computed as
    (e/1000)^2, round-6 fenced, and rescaled by 1000 after the sqrt
    (the first attempt with round(e*e, 3) failed the harness by exactly
    one boundary half-ulp). The 0.9 quantile weight is derived as an
    integer ratio, never a float literal.

    Scale: one combinable daily rollup; both the forecast window and the
    metric aggregation run over the report-sized daily series."""
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev")))
    wfc = (Window.orderBy("day")
           .rowsBetween(-_FC_WIN, -1))
    fc = daily.select(
        "day", "rev",
        (F.sum(F.col("rev").cast("decimal(30,8)")).over(wfc)
         .cast("double") / F.count(F.lit(1)).over(wfc)).alias("forecast"),
        F.count(F.lit(1)).over(wfc).alias("wn"))
    e = F.col("rev") - F.col("forecast")
    err = (fc.filter(F.col("wn") == _FC_WIN)
           .select("rev", "forecast", e.alias("e")))
    q9 = F.lit(9).cast("double") / 10
    cnt = F.count(F.lit(1))

    def rdec(c9, scale):
        return (F.sum(F.round(c9, scale)
                      .cast(f"decimal(30,{scale})")).cast("double"))

    return err.agg(
        cnt.cast("bigint").alias("n_days_scored"),
        (rdec(F.abs(F.col("e")), 6) / cnt).alias("mae"),
        (F.sqrt(rdec((F.col("e") / 1000) * (F.col("e") / 1000), 6) / cnt)
         * 1000).alias("rmse"),
        (rdec(F.when(F.col("rev") > 0,
                     F.abs(F.col("e")) / F.col("rev"))
              .otherwise(F.lit(0).cast("double")), 9) / cnt).alias("mape"),
        (rdec(F.greatest(q9 * F.col("e"), (q9 - 1) * F.col("e")), 6)
         / cnt).alias("pinball_90"),
        (rdec(F.col("e"), 6) / cnt).alias("bias"))


@query("eval_forecast_mase", f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {sql_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
),
f AS (
  SELECT day, rev,
         CASE WHEN COUNT(*) OVER w7 = 7
              THEN CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER w7
                        AS DOUBLE) / 7
              ELSE NULL END AS fc,
         LAG(rev, 7) OVER (ORDER BY day) AS snaive
  FROM daily
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
scored AS (SELECT * FROM f WHERE fc IS NOT NULL AND snaive IS NOT NULL),
mae AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(ROUND(ABS(rev - fc), 6) AS DECIMAL(30,6)))
              AS DOUBLE) / COUNT(*) AS mae_model,
         CAST(SUM(CAST(ROUND(ABS(rev - snaive), 6) AS DECIMAL(30,6)))
              AS DOUBLE) / COUNT(*) AS mae_snaive
  FROM scored
)
SELECT n_days, mae_model, mae_snaive,
       mae_model / mae_snaive AS mase
FROM mae
""")
def eval_forecast_mase(spark, sf_dir):
    """MASE — mean absolute SCALED error (Hyndman & Koehler 2006), the
    scale-free forecast metric eval_forecast_accuracy's MAE/RMSE/MAPE
    set lacks (MAPE breaks near zero; MASE divides the model's MAE by
    the seasonal-naive lag-7 baseline's MAE on the SAME scored days, so
    < 1 literally means 'beats the naive forecaster'). Model under
    test: the trailing-7-day rolling mean, as in the accuracy harness.
    Daily revenue is an exact decimal sum; absolute errors round-6 (day
    revenue reaches ~1e7 at scale — round-9 would exceed double's
    significant digits) then exact-decimal averaged; the final ratio is
    one IEEE division of identical doubles. O(days) after the rollup.
    """
    o = t(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(dsum("o_totalprice").alias("rev")))
    w7 = Window.orderBy("day").rowsBetween(-7, -1)
    wl = Window.orderBy("day")
    f = daily.select(
        "day", "rev",
        F.when(F.count(F.lit(1)).over(w7) == 7,
               F.sum(F.col("rev").cast("decimal(30,8)")).over(w7)
               .cast("double") / 7).alias("fc"),
        F.lag("rev", 7).over(wl).alias("snaive"))
    scored = f.filter(F.col("fc").isNotNull()
                      & F.col("snaive").isNotNull())
    mae = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.sum(F.round(F.abs(F.col("rev") - F.col("fc")), 6)
               .cast("decimal(30,6)")).cast("double")
         / F.count(F.lit(1))).alias("mae_model"),
        (F.sum(F.round(F.abs(F.col("rev") - F.col("snaive")), 6)
               .cast("decimal(30,6)")).cast("double")
         / F.count(F.lit(1))).alias("mae_snaive"))
    return mae.select("n_days", "mae_model", "mae_snaive",
                      (F.col("mae_model") / F.col("mae_snaive"))
                      .alias("mase"))
