"""Text-generation / annotation / uncertainty evaluation metrics (round 9c).

Second evaluation wave: after the retrieval-ranking and classifier-sweep
harness (evaluation.py), the remaining evaluation surfaces a training-data
pipeline runs in-engine are

* corpus BLEU + ROUGE n-gram overlap between candidate/reference text pairs
  (the machine-translation / summarization metric family, Papineni et al.
  2002; Lin 2004) — here over deterministic same-source document pairs;
* Fleiss' kappa inter-annotator agreement (Fleiss 1971) across multiple
  deterministic raters — the labeling-QA gate run before trusting a
  crowd-labeled training set;
* split-conformal prediction coverage (Vovk et al.; Angelopoulos & Bates
  2021): a distribution-free calibrated interval from a held-out
  calibration split, then the empirical coverage on a test split;
* Matryoshka-truncation retrieval recall (Kusupati et al. 2022): how much
  top-k retrieval quality survives truncating embeddings to a prefix of
  dimensions — the evaluation behind serving shorter vectors.

Reference scope note: the reference loader (ParquetArangoLoader.java) has
no evaluation surface; these are part of the demanded LLM-pipeline widening
(judged alongside SURVEY.md §2).

Determinism: every metric is integer counting until one final IEEE
division; ln/exp-derived outputs (BLEU's brevity penalty and geometric
mean) are round-9 fenced on both engines per CLAUDE.md's ln/ratio rule.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.materialize import materialize
from arangodb_java_parquet_spark.operators.similarity import (
    topk_cosine_bruteforce)
from arangodb_java_parquet_spark.queries.common import (
    dsum, query, sql_cos, t)

# ---------------------------------------------------------------------------
# corpus BLEU-2 + ROUGE-1/2 over deterministic candidate/reference pairs
# ---------------------------------------------------------------------------

# Bigram list from a token array: one entry per window start; a 1-token
# document degenerates to its unigram (identical definition both engines).
_SQL_BIGRAMS = ("list_transform(range(1, greatest(len(toks) - 1, 1) + 1),"
                " i -> array_to_string(toks[i:i+1], ' '))")
_SPARK_BIGRAMS = ("transform(sequence(1, greatest(size(toks) - 1, 1)),"
                  " i -> concat_ws(' ', slice(toks, i, 2)))")

_BLEU_SQL = f"""
WITH base AS (
  SELECT source, string_split(text, ' ') AS toks,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS nsrc
  FROM documents
),
p2 AS (
  SELECT source, (rn + 1) // 2 AS pk, rn % 2 AS side, toks
  FROM base WHERE rn <= nsrc - nsrc % 2
),
uni AS (SELECT source, pk, side, UNNEST(toks) AS g FROM p2),
big AS (SELECT source, pk, side, UNNEST({_SQL_BIGRAMS}) AS g FROM p2),
cnt1 AS (
  SELECT source, pk, g,
         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cc,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cr
  FROM uni GROUP BY 1, 2, 3
),
cnt2 AS (
  SELECT source, pk, g,
         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cc,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cr
  FROM big GROUP BY 1, 2, 3
),
t1 AS (
  SELECT CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS m1,
         CAST(SUM(cc) AS BIGINT) AS tc1,
         CAST(SUM(cr) AS BIGINT) AS tr1
  FROM cnt1
),
t2 AS (
  SELECT CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS m2,
         CAST(SUM(cc) AS BIGINT) AS tc2,
         CAST(SUM(cr) AS BIGINT) AS tr2
  FROM cnt2
),
np AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs FROM p2),
met AS (
  SELECT n_pairs, tc1, tr1, m1, m2,
         m1 / CAST(tc1 AS DOUBLE) AS prec1,
         m2 / CAST(tc2 AS DOUBLE) AS prec2,
         m1 / CAST(tr1 AS DOUBLE) AS rec1,
         m2 / CAST(tr2 AS DOUBLE) AS rec2,
         CASE WHEN tc1 >= tr1 THEN CAST(1 AS DOUBLE)
              ELSE exp(CAST(1 AS DOUBLE) - CAST(tr1 AS DOUBLE) / tc1)
         END AS bp_raw
  FROM t1 CROSS JOIN t2 CROSS JOIN np
)
SELECT n_pairs, tc1 AS cand_tokens, tr1 AS ref_tokens,
       m1 AS clipped1, m2 AS clipped2,
       prec1, prec2,
       rec1 AS rouge1_recall, rec2 AS rouge2_recall,
       round(bp_raw, 9) AS brevity_penalty,
       CASE WHEN m1 = 0 OR m2 = 0 THEN CAST(0 AS DOUBLE)
            ELSE round(bp_raw * exp((ln(prec1) + ln(prec2)) / 2), 9)
       END AS bleu2
FROM met
"""


@query("eval_bleu_rouge_pairs", _BLEU_SQL)
def eval_bleu_rouge_pairs(spark, sf_dir):
    """Corpus-level BLEU-2 (clipped n-gram precision, geometric mean,
    brevity penalty — Papineni et al. 2002) and ROUGE-1/2 recall (Lin
    2004) over deterministic candidate/reference pairs: within each
    source, documents are md5-ranked and consecutive rows paired (odd rn
    = candidate, even = reference; an unpaired last row is dropped via
    the per-source COUNT window, no extra join).

    The clipped-match table needs NO candidate-reference join at all:
    one groupBy on (pair, gram) with conditional per-side counts, then
    SUM(LEAST(cand_count, ref_count)) — two shuffles per n-gram order,
    both keyed on token-level pairs, never a pair-wise cross product.
    That is the 100 TB shape: shuffle volume is O(total tokens).

    Determinism: all counts integer (HUGEINT-fenced); precisions/recalls
    are single IEEE divisions; the brevity penalty and the exp/ln
    geometric mean are round-9 fenced on both engines."""
    d = t(spark, sf_dir, "documents")
    wrn = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    wsrc = Window.partitionBy("source")
    base = (d.select("source", "doc_id", F.split("text", " ").alias("toks"))
            .withColumn("rn", F.row_number().over(wrn))
            .withColumn("nsrc", F.count(F.lit(1)).over(wsrc)))
    # Three consumers (unigram explode, bigram explode, pair count) read
    # the windowed pairing — materialize it once (lazy localCheckpoint:
    # plan truncation at zero extra job cost, CLAUDE.md pattern) instead
    # of re-running the per-source ranking window per consumer.
    p2 = (base.filter(F.col("rn") <= F.col("nsrc") - F.col("nsrc") % 2)
          .select("source", F.expr("(rn + 1) DIV 2").alias("pk"),
                  (F.col("rn") % 2).alias("side"), "toks")
          .transform(materialize))

    uni = p2.select("source", "pk", "side", F.explode("toks").alias("g"))
    big = p2.select("source", "pk", "side",
                    F.explode(F.expr(_SPARK_BIGRAMS)).alias("g"))

    def clipped(grams):
        cnt = grams.groupBy("source", "pk", "g").agg(
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("cc"),
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("cr"))
        return cnt.agg(
            F.sum(F.least("cc", "cr")).cast("bigint").alias("m"),
            F.sum("cc").cast("bigint").alias("tc"),
            F.sum("cr").cast("bigint").alias("tr"))

    t1 = (clipped(uni).withColumnRenamed("m", "m1")
          .withColumnRenamed("tc", "tc1").withColumnRenamed("tr", "tr1"))
    t2 = (clipped(big).withColumnRenamed("m", "m2")
          .withColumnRenamed("tc", "tc2").withColumnRenamed("tr", "tr2"))
    np_df = p2.agg((F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"))

    met = (t1.crossJoin(t2).crossJoin(np_df).select(
        "n_pairs", "tc1", "tr1", "m1", "m2",
        (F.col("m1") / F.col("tc1").cast("double")).alias("prec1"),
        (F.col("m2") / F.col("tc2").cast("double")).alias("prec2"),
        (F.col("m1") / F.col("tr1").cast("double")).alias("rec1"),
        (F.col("m2") / F.col("tr2").cast("double")).alias("rec2"),
        F.when(F.col("tc1") >= F.col("tr1"), F.lit(1).cast("double"))
        .otherwise(F.exp(F.lit(1).cast("double")
                         - F.col("tr1").cast("double") / F.col("tc1")))
        .alias("bp_raw")))
    return met.select(
        "n_pairs",
        F.col("tc1").alias("cand_tokens"), F.col("tr1").alias("ref_tokens"),
        F.col("m1").alias("clipped1"), F.col("m2").alias("clipped2"),
        "prec1", "prec2",
        F.col("rec1").alias("rouge1_recall"),
        F.col("rec2").alias("rouge2_recall"),
        F.round(F.col("bp_raw"), 9).alias("brevity_penalty"),
        F.when((F.col("m1") == 0) | (F.col("m2") == 0),
               F.lit(0).cast("double"))
        .otherwise(F.round(F.col("bp_raw")
                           * F.exp((F.log("prec1") + F.log("prec2")) / 2), 9))
        .alias("bleu2"))


# ---------------------------------------------------------------------------
# Fleiss' kappa: multi-rater agreement over deterministic annotators
# ---------------------------------------------------------------------------

_FLEISS_SQL = """
WITH rated AS (
  SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END
          + CASE WHEN instr(text, ' the ') > 0 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END) AS n1
  FROM documents
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(n1 * n1 + (3 - n1) * (3 - n1) - 3) AS BIGINT) AS s_agree,
         CAST(SUM(n1) AS BIGINT) AS t_pos
  FROM rated
),
met AS (
  SELECT n_items,
         s_agree / CAST(n_items * 6 AS DOUBLE) AS pbar,
         t_pos / CAST(n_items * 3 AS DOUBLE) AS p_pos
  FROM agg
)
SELECT n_items, CAST(3 AS BIGINT) AS n_raters, pbar,
       p_pos * p_pos + (1 - p_pos) * (1 - p_pos) AS pe,
       CASE WHEN 1 - (p_pos * p_pos + (1 - p_pos) * (1 - p_pos)) = 0
            THEN CAST(1 AS DOUBLE)
            ELSE (pbar - (p_pos * p_pos + (1 - p_pos) * (1 - p_pos)))
                 / (1 - (p_pos * p_pos + (1 - p_pos) * (1 - p_pos)))
       END AS fleiss_kappa
FROM met
"""


@query("eval_fleiss_kappa", _FLEISS_SQL)
def eval_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among
    THREE raters on a binary is-English label per document, where the
    raters are deterministic heuristics (the gold lang column, a
    stopword-presence rule, a length rule). This is the labeling-QA
    statistic for multi-annotator training data; Cohen's kappa
    (langid_cohens_kappa) covers exactly two raters, Fleiss generalizes.

    Per item with r raters and category counts n_ij, agreement is
    P_i = (sum_j n_ij^2 - r) / (r(r-1)); with two categories this is
    one integer expression per row, so the whole statistic reduces to
    ONE combinable aggregation of three integer sums — the 100 TB plan
    is a single map-side-combined pass. Every division is one IEEE op
    on identical integer-derived operands; no rounding needed."""
    d = t(spark, sf_dir, "documents")
    n1 = (F.when(F.col("lang") == "en", 1).otherwise(0)
          + F.when(F.instr(F.col("text"), " the ") > 0, 1).otherwise(0)
          + F.when(F.col("n_chars") >= 800, 1).otherwise(0))
    rated = d.select(n1.alias("n1"))
    agg = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("n1") * F.col("n1")
              + (3 - F.col("n1")) * (3 - F.col("n1")) - 3)
        .cast("bigint").alias("s_agree"),
        F.sum("n1").cast("bigint").alias("t_pos"))
    met = agg.select(
        "n_items",
        (F.col("s_agree") / (F.col("n_items") * 6).cast("double"))
        .alias("pbar"),
        (F.col("t_pos") / (F.col("n_items") * 3).cast("double"))
        .alias("p_pos"))
    pe = (F.col("p_pos") * F.col("p_pos")
          + (1 - F.col("p_pos")) * (1 - F.col("p_pos")))
    return met.select(
        "n_items", F.lit(3).cast("bigint").alias("n_raters"), "pbar",
        pe.alias("pe"),
        F.when(1 - pe == 0, F.lit(1).cast("double"))
        .otherwise((F.col("pbar") - pe) / (1 - pe)).alias("fleiss_kappa"))


# ---------------------------------------------------------------------------
# split-conformal prediction: calibrated interval + test coverage
# ---------------------------------------------------------------------------

_CONF_SQL = """
WITH assigned AS (
  SELECT o_orderkey, o_orderpriority AS prio,
         CAST(o_totalprice AS DOUBLE) AS y,
         instr('0123456789abcdef',
               substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1 AS d
  FROM orders
),
model AS (
  SELECT prio,
         CAST(SUM(CAST(y AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS yhat
  FROM assigned WHERE d < 8 GROUP BY prio
),
ntrain AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM assigned WHERE d < 8
),
calr AS (
  SELECT abs(y - yhat) AS r
  FROM assigned a JOIN model m ON a.prio = m.prio
  WHERE d >= 8 AND d < 12
),
kt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
         CAST(LEAST(((COUNT(*) + 1) * 9 + 9) // 10, COUNT(*)) AS BIGINT)
           AS k_rank
  FROM calr
),
byv AS (SELECT r, COUNT(*) AS c FROM calr GROUP BY r),
cum AS (
  SELECT r, SUM(c) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cumc
  FROM byv
),
qh AS (
  SELECT MIN(r) AS q_hat FROM cum CROSS JOIN kt WHERE cumc >= k_rank
),
cov AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN abs(y - yhat) <= q_hat THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cov
  FROM assigned a JOIN model m ON a.prio = m.prio
  CROSS JOIN qh
  WHERE d >= 12
)
SELECT n_train, n_cal, k_rank, n_test, q_hat,
       2 * q_hat AS interval_width,
       n_cov / CAST(n_test AS DOUBLE) AS coverage,
       CAST(9 AS DOUBLE) / 10 AS target_coverage
FROM ntrain CROSS JOIN kt CROSS JOIN qh CROSS JOIN cov
"""


@query("eval_conformal_coverage", _CONF_SQL)
def eval_conformal_coverage(spark, sf_dir):
    """Split-conformal prediction (Vovk et al.; Angelopoulos & Bates
    2021) with the finite-sample quantile: a per-priority mean model is
    fit on the train split (md5 digits 0-7), the calibration split
    (8-11) supplies |y - yhat| nonconformity scores, q_hat is the
    ceil((n+1)*0.9)-th smallest score (the exact order statistic, never
    a float quantile estimator), and coverage of yhat +/- q_hat is
    measured on the test split (12-15). Distribution-free: coverage is
    guaranteed >= 90% in expectation whatever the model.

    The order statistic comes from a cumulative count over the
    DISTINCT-score table (the eval_pr_threshold_sweep shape); at 100 TB
    the calibration quantile would come from the mergeable GK summary
    (agg_quantile_gk_summary) instead — the harness keeps the exact
    rank so the oracle is bit-checkable. The rank index is pure integer
    arithmetic (ceil via (x*9+9)//10); residuals are differences of
    identical IEEE doubles; coverage is one integer-ratio division."""
    o = t(spark, sf_dir, "orders")
    digit = (F.instr(F.lit("0123456789abcdef"),
                     F.substring(F.md5(F.col("o_orderkey").cast("string")),
                                 1, 1)) - 1)
    assigned = o.select(
        "o_orderkey", F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").cast("double").alias("y"),
        digit.alias("d"))
    train = assigned.filter(F.col("d") < 8)
    # model (a handful of rows) and the calibration residuals each feed
    # multiple scalar consumers; materialize once so the orders scan and
    # the train aggregation don't re-run per consumer.
    model = (train.groupBy("prio")
             .agg((dsum("y") / F.count(F.lit(1))).alias("yhat"))
             .transform(materialize))
    ntrain = train.agg(F.count(F.lit(1)).cast("bigint").alias("n_train"))

    calr = (assigned.filter((F.col("d") >= 8) & (F.col("d") < 12))
            .join(F.broadcast(model), "prio")
            .select(F.abs(F.col("y") - F.col("yhat")).alias("r"))
            .transform(materialize))
    cnt = F.count(F.lit(1))
    # kt and q_hat are 1-row constants with two consumers each (the
    # rank filter / coverage pass AND the final report row) — checkpoint
    # so neither scalar chain re-plans (r11 exchange discipline)
    kt = calr.agg(
        cnt.cast("bigint").alias("n_cal"),
        F.least(F.expr("((count(1) + 1) * 9 + 9) DIV 10"), cnt)
        .cast("bigint").alias("k_rank")).transform(materialize)
    byv = calr.groupBy("r").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    cum = byv.select("r", F.sum("c").over(wcum).alias("cumc"))
    qh = (cum.crossJoin(F.broadcast(kt.select("k_rank")))
          .filter(F.col("cumc") >= F.col("k_rank"))
          .agg(F.min("r").alias("q_hat")).transform(materialize))
    cov = (assigned.filter(F.col("d") >= 12)
           .join(F.broadcast(model), "prio")
           .crossJoin(F.broadcast(qh))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_test"),
                F.sum(F.when(F.abs(F.col("y") - F.col("yhat"))
                             <= F.col("q_hat"), 1).otherwise(0))
                .cast("bigint").alias("n_cov")))
    return (ntrain.crossJoin(kt).crossJoin(qh).crossJoin(cov)
            .select("n_train", "n_cal", "k_rank", "n_test", "q_hat",
                    (2 * F.col("q_hat")).alias("interval_width"),
                    (F.col("n_cov") / F.col("n_test").cast("double"))
                    .alias("coverage"),
                    (F.lit(9).cast("double") / 10).alias("target_coverage")))


# ---------------------------------------------------------------------------
# Matryoshka-truncation retrieval recall
# ---------------------------------------------------------------------------

_MAT_K = 10
_MAT_PANEL = 32

_MAT_SQL = f"""
WITH q0 AS (
  SELECT vec_id AS qid, embedding AS qvec
  FROM embeddings WHERE vec_id % 37 = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_MAT_PANEL}
),
q AS (SELECT qid, qvec, qvec[1:16] AS qv16, qvec[1:32] AS qv32 FROM q0),
c AS (
  SELECT vec_id AS vid, embedding AS cvec,
         embedding[1:16] AS cv16, embedding[1:32] AS cv32
  FROM embeddings WHERE vec_id % 37 <> 0
),
pairs AS (
  SELECT q.qid, c.vid,
         {sql_cos('q.qvec', 'c.cvec')} AS cf,
         {sql_cos('q.qv16', 'c.cv16')} AS c16,
         {sql_cos('q.qv32', 'c.cv32')} AS c32
  FROM c CROSS JOIN q WHERE q.qid <> c.vid
),
tf AS (
  SELECT qid, vid FROM (
    SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY cf DESC, vid) AS rn
    FROM pairs) WHERE rn <= {_MAT_K}
),
t16 AS (
  SELECT qid, vid FROM (
    SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY c16 DESC, vid) AS rn
    FROM pairs) WHERE rn <= {_MAT_K}
),
t32 AS (
  SELECT qid, vid FROM (
    SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY c32 DESC, vid) AS rn
    FROM pairs) WHERE rn <= {_MAT_K}
),
m16 AS (SELECT CAST(COUNT(*) AS BIGINT) AS o16
        FROM tf JOIN t16 USING (qid, vid)),
m32 AS (SELECT CAST(COUNT(*) AS BIGINT) AS o32
        FROM tf JOIN t32 USING (qid, vid)),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_full FROM tf),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q)
SELECT n_queries, n_full,
       o16 AS overlap_dim16, o32 AS overlap_dim32,
       o16 / CAST(n_full AS DOUBLE) AS recall_at10_dim16,
       o32 / CAST(n_full AS DOUBLE) AS recall_at10_dim32
FROM nq CROSS JOIN tot CROSS JOIN m16 CROSS JOIN m32
"""


@query("emb_matryoshka_recall", _MAT_SQL)
def emb_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation evaluation (Kusupati et al. 2022): recall of
    exact cosine top-{_MAT_K} retrieval when embeddings are truncated to
    their first 16 / 32 of 64 dimensions, against the full-dimension
    top-{_MAT_K} as ground truth, macro-averaged over the md5-ranked
    {_MAT_PANEL}-query panel (the eval_rank_metrics panel contract).
    The number that tells you whether serving half-width vectors is
    free retrieval-quality-wise.

    Scale: ONE broadcast-panel pair enumeration scoring all three
    widths per pair (the oracle CTE's shape — r11 exchange discipline
    replaced the previous three separate brute-force passes), with all
    six norms computed once per side below the join (the
    topk_cosine_bruteforce contract); the scored pair table is
    materialized once and the three per-width top-k windows read it.
    Overlap joins and the final scalars touch |Q| x k rows. Swapping
    the exact retriever for the IVF/PQ path changes the candidate
    source, not this harness."""
    from arangodb_java_parquet_spark.operators.similarity import dot, norm
    e = t(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") % 37 == 0)
         .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
         .limit(_MAT_PANEL)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec"),
                 F.slice("embedding", 1, 16).alias("qv16"),
                 F.slice("embedding", 1, 32).alias("qv32"))
         .withColumn("qn", norm(F.col("qvec")))
         .withColumn("qn16", norm(F.col("qv16")))
         .withColumn("qn32", norm(F.col("qv32")))
         .transform(materialize))
    c = (e.filter(F.col("vec_id") % 37 != 0)
         .select(F.col("vec_id").alias("vid"),
                 F.col("embedding").alias("cvec"),
                 F.slice("embedding", 1, 16).alias("cv16"),
                 F.slice("embedding", 1, 32).alias("cv32"))
         .withColumn("cn", norm(F.col("cvec")))
         .withColumn("cn16", norm(F.col("cv16")))
         .withColumn("cn32", norm(F.col("cv32"))))

    def cos(qv, cv, qn, cn):
        return F.round(dot(F.col(qv), F.col(cv))
                       / F.nullif(F.col(qn) * F.col(cn), F.lit(0.0)), 9)

    pairs = (c.crossJoin(F.broadcast(q))
             .filter(F.col("qid") != F.col("vid"))
             .select("qid", "vid",
                     cos("qvec", "cvec", "qn", "cn").alias("cf"),
                     cos("qv16", "cv16", "qn16", "cn16").alias("c16"),
                     cos("qv32", "cv32", "qn32", "cn32").alias("c32"))
             .transform(materialize))  # one scoring pass, 3 windows

    def topk(col):
        w = Window.partitionBy("qid").orderBy(F.desc(col), "vid")
        return (pairs.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= _MAT_K).select("qid", "vid"))

    full = topk("cf").transform(materialize)
    # the truncated-width slates are |Q| x k rows — broadcast them into
    # the overlap joins (a shuffled join on (qid, vid) costs 2 exchanges
    # per overlap for 320-row inputs)
    m16 = (full.join(F.broadcast(topk("c16")), ["qid", "vid"])
           .agg(F.count(F.lit(1)).cast("bigint").alias("o16")))
    m32 = (full.join(F.broadcast(topk("c32")), ["qid", "vid"])
           .agg(F.count(F.lit(1)).cast("bigint").alias("o32")))
    tot = full.agg(F.count(F.lit(1)).cast("bigint").alias("n_full"))
    nq = q.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return (nq.crossJoin(tot).crossJoin(m16).crossJoin(m32)
            .select("n_queries", "n_full",
                    F.col("o16").alias("overlap_dim16"),
                    F.col("o32").alias("overlap_dim32"),
                    (F.col("o16") / F.col("n_full").cast("double"))
                    .alias("recall_at10_dim16"),
                    (F.col("o32") / F.col("n_full").cast("double"))
                    .alias("recall_at10_dim32")))


# ---------------------------------------------------------------------------
# kNN-graph hubness: k-occurrence distribution skewness
# ---------------------------------------------------------------------------

_HUB_N = 300   # bounded universe (the emb_mutual_knn_graph contract)
_HUB_K = 5

_HUB_SQL = f"""
WITH u AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {_HUB_N}),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS vid,
         {sql_cos('a.embedding', 'b.embedding')} AS cos_sim
  FROM u a JOIN u b ON a.vec_id <> b.vec_id
),
knn AS (
  SELECT qid, vid FROM (
    SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY cos_sim DESC, vid) AS rn
    FROM pairs) WHERE rn <= {_HUB_K}
),
indeg AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS c FROM knn GROUP BY vid),
kocc AS (
  SELECT u.vec_id, COALESCE(i.c, 0) AS k_occ
  FROM u LEFT JOIN indeg i ON i.vid = u.vec_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(k_occ) AS BIGINT) AS s1,
         CAST(SUM(k_occ * k_occ) AS BIGINT) AS s2,
         CAST(SUM(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
         CAST(MAX(k_occ) AS BIGINT) AS max_kocc,
         CAST(SUM(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_antihubs
  FROM kocc
),
m AS (
  SELECT n, max_kocc, n_antihubs,
         s1 / CAST(n AS DOUBLE) AS mean,
         s2 / CAST(n AS DOUBLE)
           - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS var,
         s3 / CAST(n AS DOUBLE) AS m3r,
         s2 / CAST(n AS DOUBLE) AS m2r
  FROM s
)
SELECT n AS n_vectors, CAST({_HUB_K} AS BIGINT) AS k,
       mean AS mean_kocc, var AS var_kocc, max_kocc, n_antihubs,
       CASE WHEN var <= 0 THEN CAST(0 AS DOUBLE)
            ELSE round((m3r - 3 * mean * m2r + 2 * mean * mean * mean)
                       / (var * sqrt(var)), 9)
       END AS skew_kocc
FROM m
"""


@query("emb_knn_hubness", _HUB_SQL)
def emb_knn_hubness(spark, sf_dir):
    """Hubness diagnostic of the embedding space (Radovanovic et al.
    2010): the skewness of the k-occurrence distribution — how often
    each vector appears in OTHER vectors' kNN lists. High positive skew
    means hub points dominate retrieval (a known pathology of
    high-dimensional embeddings that silently degrades kNN search and
    near-dup detection); n_antihubs counts vectors never retrieved.
    Runs on the bounded universe shared with emb_mutual_knn_graph so
    the oracle's exact all-pairs truth stays tractable; at 100 TB the
    directed kNN table comes from the ANN candidates instead — the
    in-degree aggregation and moment formula are candidate-source-
    agnostic.

    Determinism: in-degrees are integers (the left join pins never-
    retrieved vectors at 0); all three moment sums are exact integer
    sums; mean/variance/skewness are IEEE expressions over identical
    operands with the final skew round-9 fenced (sqrt chain)."""
    e = t(spark, sf_dir, "embeddings")
    u = e.filter(F.col("vec_id") < _HUB_N)
    knn = topk_cosine_bruteforce(u, u, id_col="vec_id",
                                 vec_col="embedding", k=_HUB_K)
    indeg = knn.groupBy("vid").agg(F.count(F.lit(1)).cast("bigint")
                                   .alias("c"))
    kocc = (u.select("vec_id")
            .join(indeg, F.col("vec_id") == F.col("vid"), "left")
            .select("vec_id", F.coalesce("c", F.lit(0)).alias("k_occ")))
    s = kocc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k_occ").cast("bigint").alias("s1"),
        F.sum(F.col("k_occ") * F.col("k_occ")).cast("bigint").alias("s2"),
        F.sum(F.col("k_occ") * F.col("k_occ") * F.col("k_occ"))
        .cast("bigint").alias("s3"),
        F.max("k_occ").cast("bigint").alias("max_kocc"),
        F.sum(F.when(F.col("k_occ") == 0, 1).otherwise(0)).cast("bigint")
        .alias("n_antihubs"))
    nd = F.col("n").cast("double")
    mean = F.col("s1") / nd
    var = F.col("s2") / nd - mean * mean
    m = s.select("n", "max_kocc", "n_antihubs",
                 mean.alias("mean"), var.alias("var"),
                 (F.col("s3") / nd).alias("m3r"),
                 (F.col("s2") / nd).alias("m2r"))
    return m.select(
        F.col("n").alias("n_vectors"),
        F.lit(_HUB_K).cast("bigint").alias("k"),
        F.col("mean").alias("mean_kocc"),
        F.col("var").alias("var_kocc"),
        "max_kocc", "n_antihubs",
        F.when(F.col("var") <= 0, F.lit(0).cast("double"))
        .otherwise(F.round(
            (F.col("m3r") - 3 * F.col("mean") * F.col("m2r")
             + 2 * F.col("mean") * F.col("mean") * F.col("mean"))
            / (F.col("var") * F.sqrt(F.col("var"))), 9))
        .alias("skew_kocc"))


# ---------------------------------------------------------------------------
# centroid silhouette for the value-checked k-means assignment
# ---------------------------------------------------------------------------

def _silhouette_sql() -> str:
    from arangodb_java_parquet_spark.queries.similarity import (
        _KM_ROUNDS, _kmeans_sql)
    base = _kmeans_sql()
    final = f"""
SELECT c.cid, c.cx, c.cy, COUNT(a.vec_id) AS n_points
FROM c{_KM_ROUNDS} c
LEFT JOIN a{_KM_ROUNDS} a ON a.cid = c.cid
GROUP BY c.cid, c.cx, c.cy"""
    assert final in base
    return base.replace(final, f""",
dists AS (
  SELECT a.vec_id, a.cid AS own_cid, c.cid,
         ROUND(sqrt((a.x - c.cx) * (a.x - c.cx)
                    + (a.y - c.cy) * (a.y - c.cy)), 9) AS dst
  FROM a{_KM_ROUNDS} a CROSS JOIN c{_KM_ROUNDS} c
),
sil AS (
  SELECT vec_id, own_cid,
         MAX(CASE WHEN cid = own_cid THEN dst END) AS a_dist,
         MIN(CASE WHEN cid <> own_cid THEN dst END) AS b_dist
  FROM dists GROUP BY vec_id, own_cid
),
sv AS (
  SELECT own_cid AS cid,
         CASE WHEN GREATEST(a_dist, b_dist) = 0 THEN CAST(0 AS DOUBLE)
              ELSE ROUND((b_dist - a_dist) / GREATEST(a_dist, b_dist), 9)
         END AS s
  FROM sil
)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CAST(s AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*)
         AS mean_silhouette
FROM sv GROUP BY cid""")


@query("cluster_silhouette_centroid", _silhouette_sql())
def cluster_silhouette_centroid(spark, sf_dir):
    """Centroid (simplified) silhouette per cluster for the value-checked
    fixed-round k-means assignment: a(i) = distance to the own-cluster
    centroid, b(i) = distance to the nearest OTHER centroid,
    s(i) = (b - a) / max(a, b) — the internal cluster-validation
    companion to the external purity/NMI entry (same shared Lloyd loop,
    one implementation, three consumers). The centroid variant is the
    one that scales: exact silhouette is O(n^2) pairwise, this is one
    broadcast of K centroids against the assignment (O(nK)) plus a
    K-row rollup.

    Determinism: seeding/assignment inherit kmeans_fixed_rounds'
    contract (md5-ranked seeds, round-9 distances, cid tiebreak);
    distances are round-9'd sqrt of identically-associated products;
    s is round-9 fenced before the exact decimal mean."""
    from arangodb_java_parquet_spark.queries.similarity import (
        _kmeans_assign)
    e = t(spark, sf_dir, "embeddings")
    assign, cents = _kmeans_assign(e)
    cc = cents.select(F.col("cid").alias("ccid"), "cx", "cy")
    dst = F.round(F.sqrt(
        (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
        + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy"))), 9)
    dists = (assign.crossJoin(F.broadcast(cc))
             .select("vec_id", F.col("cid").alias("own_cid"),
                     F.col("ccid"), dst.alias("dst")))
    sil = dists.groupBy("vec_id", "own_cid").agg(
        F.max(F.when(F.col("ccid") == F.col("own_cid"), F.col("dst")))
        .alias("a_dist"),
        F.min(F.when(F.col("ccid") != F.col("own_cid"), F.col("dst")))
        .alias("b_dist"))
    s = (F.when(F.greatest("a_dist", "b_dist") == 0,
                F.lit(0).cast("double"))
         .otherwise(F.round((F.col("b_dist") - F.col("a_dist"))
                            / F.greatest("a_dist", "b_dist"), 9)))
    return (sil.select(F.col("own_cid").alias("cid"), s.alias("s"))
            .groupBy("cid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"),
                 (F.sum(F.col("s").cast("decimal(30,9)")).cast("double")
                  / F.count(F.lit(1))).alias("mean_silhouette")))


# ---------------------------------------------------------------------------
# Krippendorff's alpha with abstentions (round 9e)
# ---------------------------------------------------------------------------

_KRIPP_SQL = """
WITH rated AS (
  SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END
          + CASE WHEN instr(text, ' the ') > 0 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END) AS o,
         (CASE WHEN n_chars >= 400 AND n_chars < 800 THEN 2 ELSE 3 END)
           AS m,
         (CASE WHEN n_chars >= 400 AND n_chars < 800
               THEN (CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                     + CASE WHEN instr(text, ' the ') > 0
                            THEN 1 ELSE 0 END)
               ELSE (CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                     + CASE WHEN instr(text, ' the ') > 0
                            THEN 1 ELSE 0 END
                     + CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END)
          END) AS o_eff
  FROM documents
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(m) AS BIGINT) AS mm,
         CAST(SUM(o_eff) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN m = 3 THEN o_eff * (3 - o_eff)
                       ELSE 2 * o_eff * (2 - o_eff) END) AS BIGINT) AS s
  FROM rated
)
SELECT n_items, mm AS n_ratings,
       s / CAST(mm AS DOUBLE) AS do_rate,
       (2 * CAST(n1 AS DOUBLE) * (mm - n1))
         / (CAST(mm AS DOUBLE) * (mm - 1)) AS de_rate,
       CASE WHEN n1 = 0 OR n1 = mm THEN CAST(1 AS DOUBLE)
            ELSE 1 - (CAST(s AS DOUBLE) * (mm - 1))
                     / (2 * CAST(n1 AS DOUBLE) * (mm - n1))
       END AS krippendorff_alpha
FROM agg
"""


@query("eval_krippendorff_alpha", _KRIPP_SQL)
def eval_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal, binary) — the agreement statistic
    that, unlike Fleiss' kappa, HANDLES MISSING RATINGS: the length
    rater abstains on mid-length documents (400 <= n_chars < 800), so
    items carry m in {2, 3} ratings and the statistic weights each
    item's pairable ratings correctly. The real-world labeling-QA case:
    annotators skip items outside their competence.

    Computational form: observed disagreement Do = (1/M) * sum_i
    2*o_i*(m_i - o_i)/(m_i - 1) (integer-exact here since m_i - 1
    divides 2*o*(m-o) for m in {2,3}); expected disagreement De =
    2*n1*n0 / (M*(M-1)) from the pooled ratings; alpha = 1 - Do/De
    collapses to 1 - S*(M-1)/(2*n1*n0) — ONE division of
    integer-derived doubles (products go through double first so the
    formula cannot overflow at corpus scale). One combinable
    aggregation; degenerate all-same-category corpora pin alpha at 1."""
    d = t(spark, sf_dir, "documents")
    r1 = F.when(F.col("lang") == "en", 1).otherwise(0)
    r2 = F.when(F.instr(F.col("text"), " the ") > 0, 1).otherwise(0)
    r3 = F.when(F.col("n_chars") >= 800, 1).otherwise(0)
    abstain = (F.col("n_chars") >= 400) & (F.col("n_chars") < 800)
    rated = d.select(
        F.when(abstain, F.lit(2)).otherwise(F.lit(3)).alias("m"),
        F.when(abstain, r1 + r2).otherwise(r1 + r2 + r3).alias("o_eff"))
    agg = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("m").cast("bigint").alias("mm"),
        F.sum("o_eff").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("m") == 3,
                     F.col("o_eff") * (3 - F.col("o_eff")))
              .otherwise(2 * F.col("o_eff") * (2 - F.col("o_eff"))))
        .cast("bigint").alias("s"))
    n1d = F.col("n1").cast("double")
    mmd = F.col("mm").cast("double")
    sd = F.col("s").cast("double")
    return agg.select(
        "n_items", F.col("mm").alias("n_ratings"),
        (F.col("s") / mmd).alias("do_rate"),
        ((2 * n1d * (F.col("mm") - F.col("n1")))
         / (mmd * (F.col("mm") - 1))).alias("de_rate"),
        F.when((F.col("n1") == 0) | (F.col("n1") == F.col("mm")),
               F.lit(1).cast("double"))
        .otherwise(1 - (sd * (F.col("mm") - 1))
                   / (2 * n1d * (F.col("mm") - F.col("n1"))))
        .alias("krippendorff_alpha"))


# ---------------------------------------------------------------------------
# McNemar paired classifier comparison + Cohen's d effect size (round 9h)
# ---------------------------------------------------------------------------

_MCNEMAR_SQL = """
WITH scored AS (
  SELECT CASE WHEN (n_chars >= 800) = (lang = 'en') THEN 1 ELSE 0 END
           AS ok_a,
         CASE WHEN (instr(text, ' the ') > 0) = (lang = 'en')
              THEN 1 ELSE 0 END AS ok_b
  FROM documents
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(ok_a) AS BIGINT) AS correct_a,
         CAST(SUM(ok_b) AS BIGINT) AS correct_b,
         CAST(SUM(CASE WHEN ok_a = 1 AND ok_b = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS disc_b,
         CAST(SUM(CASE WHEN ok_a = 0 AND ok_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS disc_c
  FROM scored
)
SELECT n_docs,
       correct_a / CAST(n_docs AS DOUBLE) AS acc_a,
       correct_b / CAST(n_docs AS DOUBLE) AS acc_b,
       disc_b, disc_c,
       CASE WHEN disc_b + disc_c = 0 THEN CAST(0 AS DOUBLE)
            ELSE ((disc_b - disc_c) * (disc_b - disc_c))
                 / CAST(disc_b + disc_c AS DOUBLE) END AS mcnemar_chi2,
       CASE WHEN disc_b + disc_c = 0 THEN CAST(0 AS DOUBLE)
            ELSE ((abs(disc_b - disc_c) - 1) * (abs(disc_b - disc_c) - 1))
                 / CAST(disc_b + disc_c AS DOUBLE) END AS mcnemar_chi2_cc
FROM agg
"""


@query("eval_mcnemar_paired", _MCNEMAR_SQL)
def eval_mcnemar_paired(spark, sf_dir):
    """McNemar's paired test (1947) comparing TWO classifiers on the
    SAME documents — the statistically correct way to ask "is rule A
    actually better than rule B?" (comparing raw accuracies ignores
    that both face the same items): only the discordant counts matter,
    chi2 = (b - c)^2 / (b + c), with the Edwards continuity-corrected
    variant alongside. Classifiers: the length rule vs the stopword
    rule, gold label lang='en' (the pair whose agreement the kappa
    entries measure — this entry asks which is RIGHT, not whether they
    agree).

    One combinable aggregation of five integer counters; both
    statistics are single divisions of integer-derived operands (b+c=0
    degenerates to 0)."""
    d = t(spark, sf_dir, "documents")
    ok_a = F.when((F.col("n_chars") >= 800) == (F.col("lang") == "en"), 1) \
        .otherwise(0)
    ok_b = F.when((F.instr(F.col("text"), " the ") > 0)
                  == (F.col("lang") == "en"), 1).otherwise(0)
    scored = d.select(ok_a.alias("ok_a"), ok_b.alias("ok_b"))
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ok_a").cast("bigint").alias("correct_a"),
        F.sum("ok_b").cast("bigint").alias("correct_b"),
        F.sum(F.when((F.col("ok_a") == 1) & (F.col("ok_b") == 0), 1)
              .otherwise(0)).cast("bigint").alias("disc_b"),
        F.sum(F.when((F.col("ok_a") == 0) & (F.col("ok_b") == 1), 1)
              .otherwise(0)).cast("bigint").alias("disc_c"))
    bc = F.col("disc_b") + F.col("disc_c")
    diff = F.col("disc_b") - F.col("disc_c")
    adiff = F.abs(diff) - 1
    return agg.select(
        "n_docs",
        (F.col("correct_a") / F.col("n_docs").cast("double")).alias("acc_a"),
        (F.col("correct_b") / F.col("n_docs").cast("double")).alias("acc_b"),
        "disc_b", "disc_c",
        F.when(bc == 0, F.lit(0).cast("double"))
        .otherwise((diff * diff) / bc.cast("double")).alias("mcnemar_chi2"),
        F.when(bc == 0, F.lit(0).cast("double"))
        .otherwise((adiff * adiff) / bc.cast("double"))
        .alias("mcnemar_chi2_cc"))


_COHENS_D_SQL = """
WITH g AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
         n_chars AS x
  FROM documents
),
m AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM g GROUP BY grp
),
w AS (
  SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
         MAX(CASE WHEN grp = 1 THEN s1 END) AS s1_1,
         MAX(CASE WHEN grp = 1 THEN s2 END) AS s2_1,
         MAX(CASE WHEN grp = 0 THEN n END) AS n0,
         MAX(CASE WHEN grp = 0 THEN s1 END) AS s1_0,
         MAX(CASE WHEN grp = 0 THEN s2 END) AS s2_0
  FROM m
),
st AS (
  SELECT n1, n0,
         s1_1 / CAST(n1 AS DOUBLE) AS m1,
         s1_0 / CAST(n0 AS DOUBLE) AS m0,
         (s2_1 - s1_1 / CAST(n1 AS DOUBLE) * s1_1) / (n1 - 1) AS v1,
         (s2_0 - s1_0 / CAST(n0 AS DOUBLE) * s1_0) / (n0 - 1) AS v0
  FROM w
)
SELECT CAST(n1 AS BIGINT) AS n_en, CAST(n0 AS BIGINT) AS n_other,
       m1 - m0 AS mean_diff,
       sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
            / CAST(n1 + n0 - 2 AS DOUBLE)) AS pooled_sd,
       (m1 - m0) / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                        / CAST(n1 + n0 - 2 AS DOUBLE)) AS cohens_d,
       ((m1 - m0) / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                         / CAST(n1 + n0 - 2 AS DOUBLE)))
         * (1 - CAST(3 AS DOUBLE) / (4 * (n1 + n0) - 9)) AS hedges_g
FROM st
"""


@query("eval_cohens_d_effect_size", _COHENS_D_SQL)
def eval_cohens_d_effect_size(spark, sf_dir):
    """Cohen's d standardized effect size (with the Hedges' g
    small-sample correction, an integer-ratio factor) for the
    document-length difference between English and non-English docs —
    the magnitude statistic that belongs next to every significance
    test (the A/B entry reports lift; this reports COMPARABLE effect
    units). Thresholds 0.2/0.5/0.8 are the conventional small/medium/
    large readings.

    n_chars is integer, so both group moment sums are EXACT bigints in
    one combinable aggregation; means, variances, the pooled SD and d
    itself are IEEE expressions over identical integer-derived operands
    (the s1^2 term is ordered s1/n*s1 to stay in double range at corpus
    scale) — no rounding fence needed anywhere."""
    d = t(spark, sf_dir, "documents")
    g = d.select(F.when(F.col("lang") == "en", 1).otherwise(0).alias("grp"),
                 F.col("n_chars").alias("x"))
    m = g.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"))
    w = m.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("s1"))).alias("s1_1"),
        F.max(F.when(F.col("grp") == 1, F.col("s2"))).alias("s2_1"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("s1"))).alias("s1_0"),
        F.max(F.when(F.col("grp") == 0, F.col("s2"))).alias("s2_0"))
    m1 = F.col("s1_1") / F.col("n1").cast("double")
    m0 = F.col("s1_0") / F.col("n0").cast("double")
    v1 = (F.col("s2_1") - F.col("s1_1") / F.col("n1").cast("double")
          * F.col("s1_1")) / (F.col("n1") - 1)
    v0 = (F.col("s2_0") - F.col("s1_0") / F.col("n0").cast("double")
          * F.col("s1_0")) / (F.col("n0") - 1)
    st = w.select("n1", "n0", m1.alias("m1"), m0.alias("m0"),
                  v1.alias("v1"), v0.alias("v0"))
    psd = F.sqrt(((F.col("n1") - 1) * F.col("v1")
                  + (F.col("n0") - 1) * F.col("v0"))
                 / (F.col("n1") + F.col("n0") - 2).cast("double"))
    dd = (F.col("m1") - F.col("m0")) / psd
    return st.select(
        F.col("n1").cast("bigint").alias("n_en"),
        F.col("n0").cast("bigint").alias("n_other"),
        (F.col("m1") - F.col("m0")).alias("mean_diff"),
        psd.alias("pooled_sd"),
        dd.alias("cohens_d"),
        (dd * (1 - F.lit(3).cast("double")
               / (4 * (F.col("n1") + F.col("n0")) - 9))).alias("hedges_g"))


# ---------------------------------------------------------------------------
# rank-correlation pair: Kendall tau-b + Spearman rho (round 10)
# ---------------------------------------------------------------------------

# Two integer per-document quality signals with natural ties: token count
# and character count. Kendall is O(n^2) pairs by definition, so the
# universe is bounded (the standard practice: rank-correlate a sample or a
# top-k slate, not the corpus); Spearman is O(n log n) and could run
# corpus-wide, but shares the universe so the two coefficients are
# comparable.
_RC_DOCS = 300

_RC_BASE = f"""
WITH s AS (
  SELECT doc_id, len(string_split(text, ' ')) AS x, n_chars AS y
  FROM documents WHERE doc_id < {_RC_DOCS}
)"""


@query("eval_kendall_tau_b", _RC_BASE + """
, p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                         OR (a.x > b.x AND a.y > b.y)
                       THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                         OR (a.x > b.x AND a.y < b.y)
                       THEN 1 ELSE 0 END) AS BIGINT) AS disc,
         CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT n0 AS n_pairs, conc AS n_concordant, disc AS n_discordant,
       tx AS ties_x, ty AS ties_y,
       (conc - disc)
         / sqrt(CAST((n0 - tx) AS DOUBLE) * CAST((n0 - ty) AS DOUBLE))
         AS tau_b
FROM p
""")
def eval_kendall_tau_b(spark, sf_dir):
    """KENDALL TAU-B rank correlation (Kendall 1938, tau-b tie
    correction) between two per-document quality signals (token count vs
    char count) over a bounded slate — the nonparametric agreement
    check run when comparing two rankers/scorers without trusting either
    scale. Pure integer pair counting (concordant / discordant / ties)
    until ONE final sqrt+division of exact integers — bit-identical in
    any engine, no rounding fence needed. The pair join is bounded to
    300 documents (_RC_DOCS) by construction (tau is O(n^2) by
    definition; at scale you rank-correlate a sample or a per-query
    slate, never a corpus).
    """
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _RC_DOCS)
    s = d.select("doc_id",
                 F.size(F.split("text", " ")).alias("x"),
                 F.col("n_chars").alias("y"))
    a = s.select(F.col("doc_id").alias("ida"), F.col("x").alias("xa"),
                 F.col("y").alias("ya"))
    b = s.select(F.col("doc_id").alias("idb"), F.col("x").alias("xb"),
                 F.col("y").alias("yb"))
    one = F.lit(1)
    zero = F.lit(0)
    p = (a.join(b, F.col("ida") < F.col("idb"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n0"),
              F.sum(F.when(((F.col("xa") < F.col("xb"))
                            & (F.col("ya") < F.col("yb")))
                           | ((F.col("xa") > F.col("xb"))
                              & (F.col("ya") > F.col("yb"))), one)
                    .otherwise(zero)).cast("bigint").alias("conc"),
              F.sum(F.when(((F.col("xa") < F.col("xb"))
                            & (F.col("ya") > F.col("yb")))
                           | ((F.col("xa") > F.col("xb"))
                              & (F.col("ya") < F.col("yb"))), one)
                    .otherwise(zero)).cast("bigint").alias("disc"),
              F.sum(F.when(F.col("xa") == F.col("xb"), one)
                    .otherwise(zero)).cast("bigint").alias("tx"),
              F.sum(F.when(F.col("ya") == F.col("yb"), one)
                    .otherwise(zero)).cast("bigint").alias("ty")))
    return p.select(
        F.col("n0").alias("n_pairs"),
        F.col("conc").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        F.col("tx").alias("ties_x"),
        F.col("ty").alias("ties_y"),
        ((F.col("conc") - F.col("disc"))
         / F.sqrt((F.col("n0") - F.col("tx")).cast("double")
                  * (F.col("n0") - F.col("ty")).cast("double")))
        .alias("tau_b"))


@query("eval_spearman_rho", _RC_BASE + """
, r AS (
  SELECT doc_id,
         RANK() OVER (ORDER BY x)
           + (COUNT(*) OVER (PARTITION BY x) - 1) / CAST(2 AS DOUBLE)
           AS rx,
         RANK() OVER (ORDER BY y)
           + (COUNT(*) OVER (PARTITION BY y) - 1) / CAST(2 AS DOUBLE)
           AS ry
  FROM s
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(rx, 1) AS DECIMAL(30,1))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(ry, 1) AS DECIMAL(30,1))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(rx * ry, 2) AS DECIMAL(30,2))) AS DOUBLE)
           AS sxy,
         CAST(SUM(CAST(ROUND(rx * rx, 2) AS DECIMAL(30,2))) AS DOUBLE)
           AS sxx,
         CAST(SUM(CAST(ROUND(ry * ry, 2) AS DECIMAL(30,2))) AS DOUBLE)
           AS syy
  FROM r
)
SELECT n AS n_docs,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
         AS spearman_rho
FROM m
""")
def eval_spearman_rho(spark, sf_dir):
    """SPEARMAN RHO (Spearman 1904, tie-corrected via fractional/average
    ranks): Pearson correlation of the average-rank transforms of the
    same two signals eval_kendall_tau_b compares — the scale-free
    monotone-association twin. Average ranks are exact multiples of 0.5
    (min-rank + (ties-1)/2), rank products are exact to 2 decimals, so
    the decimal moment sums are EXACT and the final correlation is one
    round-9-fenced expression over identical doubles. One sort-rank
    window pass + one combinable moment aggregation — O(n log n),
    corpus-safe (unlike tau's pair join)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _RC_DOCS)
    s = d.select("doc_id",
                 F.size(F.split("text", " ")).alias("x"),
                 F.col("n_chars").alias("y"))
    rx = (F.rank().over(Window.orderBy("x"))
          + (F.count(F.lit(1)).over(Window.partitionBy("x")) - 1)
          / F.lit(2).cast("double"))
    ry = (F.rank().over(Window.orderBy("y"))
          + (F.count(F.lit(1)).over(Window.partitionBy("y")) - 1)
          / F.lit(2).cast("double"))
    r = s.select(rx.alias("rx"), ry.alias("ry"))
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("rx"), 1).cast("decimal(30,1)"))
        .cast("double").alias("sx"),
        F.sum(F.round(F.col("ry"), 1).cast("decimal(30,1)"))
        .cast("double").alias("sy"),
        F.sum(F.round(F.col("rx") * F.col("ry"), 2).cast("decimal(30,2)"))
        .cast("double").alias("sxy"),
        F.sum(F.round(F.col("rx") * F.col("rx"), 2).cast("decimal(30,2)"))
        .cast("double").alias("sxx"),
        F.sum(F.round(F.col("ry") * F.col("ry"), 2).cast("decimal(30,2)"))
        .cast("double").alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = (F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
           * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
    return m.select(F.col("n").alias("n_docs"),
                    F.round(num / den, 9).alias("spearman_rho"))


_CLIFF_DOCS = 400


@query("eval_cliffs_delta", f"""
WITH s AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
         n_chars AS x
  FROM documents WHERE doc_id < {_CLIFF_DOCS}
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN a.x > b.x THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gt,
         CAST(SUM(CASE WHEN a.x < b.x THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lt
  FROM (SELECT x FROM s WHERE grp = 1) a
  JOIN (SELECT x FROM s WHERE grp = 0) b ON TRUE
)
SELECT n_pairs, n_gt, n_lt,
       CAST(n_pairs - n_gt - n_lt AS BIGINT) AS n_tied,
       (n_gt - n_lt) / CAST(NULLIF(n_pairs, 0) AS DOUBLE) AS cliffs_delta
FROM p
""")
def eval_cliffs_delta(spark, sf_dir):
    """CLIFF'S DELTA ordinal effect size (Cliff 1993): P(X > Y) -
    P(X < Y) for the same English-vs-other document-length comparison
    eval_cohens_d_effect_size measures parametrically — the robust
    companion when the distributions are skewed or ordinal (|d| 0.147/
    0.33/0.474 = small/medium/large). Related to the Mann-Whitney U the
    AUC entry computes (delta = 2·AUC - 1), so the two entries
    cross-validate. Pure integer pair counting to one final division.
    The group cross join is O(n1·n0) BY DEFINITION, so the universe is
    bounded to 400 documents (_CLIFF_DOCS) — at scale you compute it on
    a sample or via the rank-sum identity from the corpus-wide AUC
    entry, which is the O(n log n) path. An empty group (no English or
    no non-English docs in the slate) is guarded with NULLIF on the
    pair count."""
    d = (t(spark, sf_dir, "documents")
         .filter(F.col("doc_id") < _CLIFF_DOCS))
    s = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("grp"),
        F.col("n_chars").alias("x"))
    a = s.filter(F.col("grp") == 1).select(F.col("x").alias("xa"))
    b = s.filter(F.col("grp") == 0).select(F.col("x").alias("xb"))
    # broadcast the smaller side so the pair join plans as a
    # BroadcastNestedLoop, never a CartesianProduct (plan discipline:
    # cart stays 0 registry-wide)
    p = (a.crossJoin(F.broadcast(b))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
              F.sum(F.when(F.col("xa") > F.col("xb"), 1).otherwise(0))
              .cast("bigint").alias("n_gt"),
              F.sum(F.when(F.col("xa") < F.col("xb"), 1).otherwise(0))
              .cast("bigint").alias("n_lt")))
    return p.select(
        "n_pairs", "n_gt", "n_lt",
        (F.col("n_pairs") - F.col("n_gt") - F.col("n_lt")).cast("bigint")
        .alias("n_tied"),
        ((F.col("n_gt") - F.col("n_lt"))
         / F.nullif(F.col("n_pairs"), F.lit(0)).cast("double"))
        .alias("cliffs_delta"))


@query("eval_gwet_ac1", """
WITH rated AS (
  SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         + (CASE WHEN instr(text, ' the ') > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END) AS n1
  FROM documents
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(n1 * n1 + (3 - n1) * (3 - n1) - 3) AS BIGINT)
           AS s_agree,
         CAST(SUM(n1) AS BIGINT) AS t_pos
  FROM rated
),
met AS (
  SELECT n_items,
         s_agree / CAST(n_items * 6 AS DOUBLE) AS pbar,
         t_pos / CAST(n_items * 3 AS DOUBLE) AS pi
  FROM agg
)
SELECT n_items, pbar, pi,
       2 * pi * (1 - pi) AS pe_ac1,
       (pbar - 2 * pi * (1 - pi)) / (1 - 2 * pi * (1 - pi)) AS gwet_ac1
FROM met
""")
def eval_gwet_ac1(spark, sf_dir):
    """GWET'S AC1 agreement coefficient (Gwet 2008) on the SAME
    three-rater binary setup as eval_fleiss_kappa — the statistic that
    fixes the kappa paradox: when one category dominates (high
    prevalence), kappa collapses toward zero even for near-perfect
    raters, while AC1's chance term 2·pi(1-pi) stays calibrated.
    Reporting both coefficients on identical ratings is inter-annotator
    QA practice. Same single combinable pass of three integer sums;
    every output is one IEEE expression over identical integer-derived
    operands — no rounding fence."""
    d = t(spark, sf_dir, "documents")
    n1 = (F.when(F.col("lang") == "en", 1).otherwise(0)
          + F.when(F.instr(F.col("text"), " the ") > 0, 1).otherwise(0)
          + F.when(F.col("n_chars") >= 800, 1).otherwise(0))
    agg = d.select(n1.alias("n1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("n1") * F.col("n1")
              + (3 - F.col("n1")) * (3 - F.col("n1")) - 3)
        .cast("bigint").alias("s_agree"),
        F.sum("n1").cast("bigint").alias("t_pos"))
    met = agg.select(
        "n_items",
        (F.col("s_agree") / (F.col("n_items") * 6).cast("double"))
        .alias("pbar"),
        (F.col("t_pos") / (F.col("n_items") * 3).cast("double"))
        .alias("pi"))
    pe = 2 * F.col("pi") * (1 - F.col("pi"))
    return met.select("n_items", "pbar", "pi", pe.alias("pe_ac1"),
                      ((F.col("pbar") - pe) / (1 - pe)).alias("gwet_ac1"))


# ---------------------------------------------------------------------------
# embedding alignment & uniformity (round 11)
# ---------------------------------------------------------------------------

_AU_N = 300  # bounded pair universe (the emb_knn_hubness contract)


@query("emb_alignment_uniformity", f"""
WITH u AS (SELECT vec_id, embedding, label FROM embeddings
           WHERE vec_id < {_AU_N}),
pairs AS (
  SELECT CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS pos,
         (2 - 2 * {sql_cos('a.embedding', 'b.embedding')}) AS sq
  FROM u a JOIN u b ON a.vec_id < b.vec_id
),
nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM u)
SELECT nv.n_vectors,
       CAST(SUM(pos) AS BIGINT) AS n_pos_pairs,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN pos = 1 THEN CAST(sq AS DECIMAL(20,9))
                     ELSE CAST(0 AS DECIMAL(20,9)) END) AS DOUBLE)
         / NULLIF(SUM(pos), 0) AS alignment,
       ROUND(ln(CAST(SUM(CAST(ROUND(exp(-2 * sq), 9) AS DECIMAL(20,9)))
                     AS DOUBLE) / COUNT(*)), 9) AS uniformity
FROM pairs CROSS JOIN nv
GROUP BY nv.n_vectors
""")
def emb_alignment_uniformity(spark, sf_dir):
    """ALIGNMENT & UNIFORMITY (Wang & Isola 2020, "Understanding
    Contrastive Representation Learning...") — the two numbers that
    predict whether an embedding space is good for retrieval BEFORE any
    retrieval eval: alignment = E[||x̂-ŷ||²] over positive (same-label)
    pairs (lower = positives cluster), uniformity = ln E[exp(-2||x̂-ŷ||²)]
    over ALL pairs (lower = mass spreads over the hypersphere; a
    collapsed space scores ~0). Read next to emb_anisotropy_score: that
    measures the mean-direction bias, this measures both sides of the
    contrastive trade-off at once.

    On normalized vectors ||x̂-ŷ||² = 2 - 2·cos, so every distance
    derives from the same round-9 cosine the retrieval entries use —
    exact 9-decimal multiples, summed as exact decimals (no further
    fence needed for alignment; the empty-positive edge is NULLIF
    guarded). Uniformity's exp() is round-9 fenced on identical inputs
    (the r10-piloted treatment) and the final ln() of the exact-mean
    ratio is round-9.

    Scale: the pair universe is bounded to {_AU_N} vectors BY DESIGN
    (the metric is defined as an expectation — at 100 TB you estimate
    it on a uniform sample, exactly what the bounded universe is);
    norms are computed once per side below the pair join."""
    from arangodb_java_parquet_spark.operators.similarity import dot, norm
    e = t(spark, sf_dir, "embeddings")
    u = (e.filter(F.col("vec_id") < _AU_N)
         .select("vec_id", "embedding", "label")
         .withColumn("nrm", norm(F.col("embedding")))
         .transform(materialize))  # pair sides + n_vectors
    a = u.select(F.col("vec_id").alias("ia"),
                 F.col("embedding").alias("va"),
                 F.col("label").alias("la"), F.col("nrm").alias("na"))
    b = u.select(F.col("vec_id").alias("ib"),
                 F.col("embedding").alias("vb"),
                 F.col("label").alias("lb"), F.col("nrm").alias("nb"))
    cos = F.round(dot(F.col("va"), F.col("vb"))
                  / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)), 9)
    pairs = (a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
             .select(F.when(F.col("la") == F.col("lb"), 1).otherwise(0)
                     .alias("pos"),
                     (F.lit(2) - 2 * cos).alias("sq")))
    nv = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    dec = "decimal(20,9)"
    return (pairs.crossJoin(F.broadcast(nv))
            .groupBy("n_vectors")
            .agg(F.sum("pos").cast("bigint").alias("n_pos_pairs"),
                 F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 (F.sum(F.when(F.col("pos") == 1,
                               F.col("sq").cast(dec))
                        .otherwise(F.lit(0).cast(dec))).cast("double")
                  / F.nullif(F.sum("pos"), F.lit(0)))
                 .alias("alignment"),
                 F.round(F.log(
                     F.sum(F.round(F.exp(-2 * F.col("sq")), 9)
                           .cast(dec)).cast("double")
                     / F.count(F.lit(1))), 9).alias("uniformity"))
            .select("n_vectors", "n_pos_pairs", "n_pairs",
                    "alignment", "uniformity"))
